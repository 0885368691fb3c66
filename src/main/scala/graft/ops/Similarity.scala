package graft.ops

import graft.{Scratch, Tables}
import graft.functions.VectorExprs.{vecDot, vecNorm}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over `embeddings.embedding: array<float>` (SURVEY.md
  * §2B): brute-force cosine top-k (the exactness baseline), exact cosine
  * near-dup pairs, random-hyperplane LSH, and IVF cell routing (the
  * 100 TB paths — candidates meet in equi-joins, never a full cross
  * join).
  *
  * The inner kernel is [[graft.functions.VectorExprs.DotProduct]], a
  * native codegen'd Catalyst expression (HOF `zip_with`/`aggregate` are
  * CodegenFallback — interpreted — and profiled 50× slower here). Norms
  * are computed ONCE per vector in the scan projection and reused across
  * every pair; ranks order by the ROUNDED similarity with an id tiebreak
  * so FP noise below the rounding precision cannot reorder the oracle
  * compare.
  */
object Similarity {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Corpus with per-vector norm computed once in the scan projection. */
  private def withNorm(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), vecNorm(col("embedding")).as("nrm"))

  /** Corpus size, memoized per (session, dir) via [[SharedPlans]] so the
    * sizing decisions below (LSH band width, exact-baseline sample
    * stride) pay the metadata-count job once per session — not once per
    * query invocation (r3 advice: q42 + every `exact=false` keep-list
    * consumer re-ran it). */
  def corpusCount(s: SparkSession, d: String): Long =
    SharedPlans.cachedCount(s, s"embeddingsCount|$d")(Tables.embeddings(s, d).count())

  /** Brute-force cosine top-10 for a deterministic probe set (vec_id < 5)
    * against the whole corpus. Scale: probe side broadcast; corpus side
    * streams once; one dot per (probe, candidate). */
  def cosineTopK(s: SparkSession, d: String): DataFrame = {
    val e = withNorm(s, d)
    val q = e.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"), col("nrm").as("qnrm"))
    val sims = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"),
        round(vecDot(col("qvec"), col("embedding")) / (col("qnrm") * col("nrm")), 4).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid").asc)
    sims.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 10)
      .orderBy(col("qid"), col("rank"))
  }

  val cosineTopKSql: String =
    """WITH ex AS (
      |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
      |         generate_subscripts(embedding, 1) AS i
      |  FROM embeddings),
      | norms AS (SELECT vec_id, sqrt(sum(v*v)) AS nrm FROM ex GROUP BY vec_id),
      | qx AS (SELECT * FROM ex WHERE vec_id < 5),
      | dots AS (
      |   SELECT q.vec_id AS qid, e.vec_id AS cid, sum(q.v * e.v) AS dp
      |   FROM qx q JOIN ex e ON q.i = e.i AND e.vec_id <> q.vec_id
      |   GROUP BY 1, 2),
      | sims AS (
      |   SELECT qid, cid, round(dp / (nq.nrm * nc.nrm), 4) AS cos
      |   FROM dots
      |   JOIN norms nq ON qid = nq.vec_id
      |   JOIN norms nc ON cid = nc.vec_id),
      | ranked AS (
      |   SELECT qid, cid, cos,
      |     row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rank
      |   FROM sims)
      |SELECT qid, cid, cos, rank FROM ranked WHERE rank <= 10
      |ORDER BY qid, rank""".stripMargin

  /** Sample stride for the exact baseline, sized to the corpus: a FIXED
    * stride keeps a fixed FRACTION, so the all-pairs cost still grows
    * quadratically with n (measured 13.6× time for 10× data at the old
    * constant modSample=2 — the r3 verdict's one weak-for-scale item).
    * Sizing the stride as ceil(n / TargetSample) keeps the sampled set —
    * and with it the pair count — CONSTANT (~[[TargetSample]] vectors,
    * ~500k pairs) as the corpus grows. Floored at 2, which is exactly
    * where the rule lands at every driver-checked SF (n ≤ 2000), so the
    * literal `vec_id % 2 = 0` oracle SQL stays verbatim — the same
    * floor-at-the-oracle-config trick as [[bitsForCorpus]]. */
  val TargetSample = 1000
  def modSampleForCorpus(n: Long): Int =
    math.max(2, math.ceil(n.toDouble / TargetSample).toInt)

  /** Gate faces of [[cosinePairs]] / [[cosineDedup]]: stride auto-sized
    * from the memoized corpus count, so the exact baseline's cost is
    * bounded at any corpus size. Logs loudly when the auto-sized stride
    * departs from the oracle literal (silent departure is a confusing
    * hash-mismatch to diagnose — r3 advice on the q42 analog). */
  def cosinePairsAuto(s: SparkSession, d: String): DataFrame =
    cosinePairs(s, d, autoStride(s, d))

  def cosineDedupAuto(s: SparkSession, d: String): DataFrame =
    cosineDedup(s, d, autoStride(s, d))

  private def autoStride(s: SparkSession, d: String): Int = {
    val m = modSampleForCorpus(corpusCount(s, d))
    if (m != 2)
      log.warn(s"cosinePairs stride auto-sized to $m for $d — departs from " +
        "the `vec_id % 2` oracle literal; q41/q44 are not hash-checkable at this corpus size")
    m
  }

  /** Exact cosine near-duplicate pairs (≥ 0.45) — the embedding-space
    * dedup baseline. All-pairs by construction (one codegen'd dot per
    * pair): O(n²) at ANY scale, so it exists only as the verification
    * oracle for [[annLshPairs]] (the plan you'd run at 100 TB).
    *
    * `modSample > 1` restricts BOTH sides to the deterministic subset
    * `vec_id % modSample == 0` — exact within that subset, and mirrored
    * in the oracle SQL. The timed gate auto-sizes the stride to the
    * corpus ([[modSampleForCorpus]]) so the sampled pair count is a
    * constant budget, not a constant fraction; ScalaTest drives the full
    * modSample=1 version at small SF to verify annLshPairs
    * precision/recall. */
  def cosinePairs(s: SparkSession, d: String, modSample: Int = 1): DataFrame =
    // memoized per (session, dir, subset): cosineDedup/q44's keep-list is an
    // anti-join against these pairs — share the persisted result instead of
    // re-running the all-pairs baseline per consumer
    SharedPlans.cached(s, s"cosinePairs|$d|$modSample")(cosinePairsPlan(s, d, modSample))

  private def cosinePairsPlan(s: SparkSession, d: String, modSample: Int): DataFrame = {
    val e0 = withNorm(s, d)
    val e = if (modSample > 1) e0.where(col("vec_id") % modSample === 0) else e0
    val a = e.select(col("vec_id").as("id1"), col("embedding").as("v1"), col("nrm").as("n1"))
    val b = e.select(col("vec_id").as("id2"), col("embedding").as("v2"), col("nrm").as("n2"))
    a.join(b, col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        round(vecDot(col("v1"), col("v2")) / (col("n1") * col("n2")), 4).as("cos"))
      .where(col("cos") >= 0.45)
      .orderBy(col("id1"), col("id2"))
  }

  val cosinePairsSql: String =
    """WITH ex AS (
      |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
      |         generate_subscripts(embedding, 1) AS i
      |  FROM embeddings WHERE vec_id % 2 = 0),
      | norms AS (SELECT vec_id, sqrt(sum(v*v)) AS nrm FROM ex GROUP BY vec_id),
      | dots AS (
      |   SELECT a.vec_id AS id1, b.vec_id AS id2, sum(a.v * b.v) AS dp
      |   FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id < b.vec_id
      |   GROUP BY 1, 2)
      |SELECT id1, id2, round(dp / (n1.nrm * n2.nrm), 4) AS cos
      |FROM dots
      |JOIN norms n1 ON id1 = n1.vec_id
      |JOIN norms n2 ON id2 = n2.vec_id
      |WHERE round(dp / (n1.nrm * n2.nrm), 4) >= 0.45
      |ORDER BY id1, id2""".stripMargin

  /** Embedding near-dup DEDUP (the keep-list, not just the pairs): drop
    * every vector that has a near-duplicate (cos ≥ threshold) with a
    * SMALLER id — the standard one-pass near-dup policy for training-data
    * pipelines: deterministic, a single anti-join, no iterative
    * connected-components. At scale the pair source is [[annLshPairs]]
    * (`exact = false`); the gate runs the exact pair source on the same
    * deterministic subset as q41 so the keep-list is oracle-checkable. */
  def cosineDedup(s: SparkSession, d: String, modSample: Int = 1,
      exact: Boolean = true): DataFrame = {
    val e0 = Tables.embeddings(s, d).select(col("vec_id"))
    val e = if (modSample > 1) e0.where(col("vec_id") % modSample === 0) else e0
    val pairs = if (exact) cosinePairs(s, d, modSample) else annLshPairs(s, d)
    // id2 always > id1, so "has a near-dup with smaller id" = appears as id2
    e.join(pairs.select(col("id2")), e("vec_id") === col("id2"), "left_anti")
      .select(col("vec_id").as("keep_id"))
      .orderBy(col("keep_id"))
  }

  val cosineDedupSql: String =
    """WITH ex AS (
      |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
      |         generate_subscripts(embedding, 1) AS i
      |  FROM embeddings WHERE vec_id % 2 = 0),
      | norms AS (SELECT vec_id, sqrt(sum(v*v)) AS nrm FROM ex GROUP BY vec_id),
      | dots AS (
      |   SELECT a.vec_id AS id1, b.vec_id AS id2, sum(a.v * b.v) AS dp
      |   FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id < b.vec_id
      |   GROUP BY 1, 2),
      | dropped AS (
      |   SELECT DISTINCT id2 FROM dots
      |   JOIN norms n1 ON id1 = n1.vec_id
      |   JOIN norms n2 ON id2 = n2.vec_id
      |   WHERE round(dp / (n1.nrm * n2.nrm), 4) >= 0.45)
      |SELECT vec_id AS keep_id
      |FROM (SELECT DISTINCT vec_id FROM ex)
      |WHERE vec_id NOT IN (SELECT id2 FROM dropped)
      |ORDER BY keep_id""".stripMargin

  /** Number of random hyperplanes (signature bits) and LSH bands. */
  val PLANES = 16
  val SIGN_BANDS = 4
  val BITS_PER_BAND: Int = PLANES / SIGN_BANDS
  val DIMS = 64

  /** Bits per band sized to the corpus: a FIXED bucket count is the
    * classic LSH scale bug — 4-bit bands give 16 buckets forever, so
    * occupancy grows linearly with n and candidate pairs quadratically
    * (measured 11.4× time for 10× data in the sf0.1→sf1 probe,
    * BASELINE.md). Sizing bits ≈ log2(n / target-occupancy) keeps
    * expected bucket occupancy — and so candidates per vector — constant
    * as the corpus grows. Floored at [[BITS_PER_BAND]], which is the
    * size the literal oracle SQL uses: at every driver-checked SF
    * (n ≤ 2000) the rule lands exactly there, so q42 stays
    * hash-checkable. Recall note: for genuine near-dups (cos ≥ 0.95,
    * per-bit collision ≥ 0.9) four 8-bit bands still catch ≥ 90%; the
    * band count is the recall dial if a corpus needs more. */
  val TargetOccupancy = 125
  def bitsForCorpus(n: Long): Int =
    math.max(BITS_PER_BAND,
      math.ceil(math.log(math.max(1.0, n.toDouble / TargetOccupancy)) / math.log(2.0)).toInt)

  /** Candidate-generation occupancy cap: buckets larger than this are
    * excluded from the band self-join. Sign-hyperplane buckets are NOT
    * uniform — dense regions of the embedding space pile into few
    * buckets (measured max occupancy 182 → 256 → 549 for n = 2k → 20k →
    * 200k while the MEAN stayed ~100), and candidate volume is quadratic
    * in bucket size, so an unchecked hot bucket is the LSH analog of a
    * skewed join key. Pairs in a pruned bucket can still meet in any of
    * the other bands (the multi-band redundancy that makes the prune
    * recall-cheap); the bound becomes Σ min(occ, cap)² ≤ cap · rows —
    * linear in n, adversarial-distribution-proof. 4× the target
    * occupancy: far above anything the driver-checked SFs produce
    * (max 182 at bpb = 4), so the literal oracle SQL — which does NOT
    * model the cap — stays exact there. */
  val MaxBucketOcc = 4 * TargetOccupancy

  /** Broadcast sizing for the ANN verify join: ~260 B per 64-float vector
    * row (id + array header + 64×4 B + norm), capped by estimated bytes —
    * 512 MiB ≈ the 2M-vector line the old row-count gate drew, but
    * honest about WHAT it bounds (driver/executor memory, not rows). */
  val BroadcastBytesPerVector = 260L
  val BroadcastMaxBytes: Long = 512L * 1024 * 1024

  /** Deterministic pseudo-random hyperplanes (±1 components from a
    * splitmix-style hash) — "training" reproducible with no driver
    * state; materialized as literal arrays so each projection is one
    * codegen'd dot against a constant. */
  private def plane(p: Int): Seq[Float] =
    (0 until DIMS).map { i =>
      var z = (p.toLong << 32 | i.toLong) + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      if (((z ^ (z >>> 31)) & 1L) == 1L) 1.0f else -1.0f
    }

  private def signBit(vec: Column, p: Int): Column =
    when(vecDot(vec, typedLit(plane(p))) > 0, 1L).otherwise(0L)

  /** Diagnostic access for [[graft.tools.AnnDiag]]. */
  private[graft] def signBitPublic(vec: Column, p: Int): Column = signBit(vec, p)

  /** The (vec_id, band, bucket) table [[annLshPairs]] joins on — ONE
    * definition shared with [[graft.tools.AnnDiag]] and the
    * [[maxBandOccupancy]] oracle-downgrade probe, so diagnostics always
    * measure the pipeline the engine actually runs. Persisted per
    * (session, dir, width): it feeds three consumers (occupancy counts +
    * both sides of the self-join) and the signature projection is the
    * expensive part (SIGN_BANDS·bpb codegen'd dots per vector). */
  private[graft] def bandedSignatures(s: SparkSession, d: String, bpb: Int): DataFrame =
    SharedPlans.cached(s, s"annBanded|$d|$bpb") {
      val planes = SIGN_BANDS * bpb
      val sig = Tables.embeddings(s, d).select(
        col("vec_id"),
        array((0 until planes).map(p => signBit(col("embedding"), p)): _*).as("bits"))
      sig.select(
        col("vec_id"),
        posexplode(array((0 until SIGN_BANDS).map { b =>
          concat_ws(",", (0 until bpb).map(r => col("bits")(b * bpb + r)): _*)
        }: _*)).as(Seq("band", "bucket")))
    }

  /** Largest band-bucket occupancy at the given band width — the
    * [[MaxBucketOcc]] prune fires above it, which the literal q42 oracle
    * SQL does not model; Verify uses this to downgrade q42 to rows-only
    * on corpora skewed enough to trip the cap even at the floor width. */
  def maxBandOccupancy(s: SparkSession, d: String, bpb: Int): Long =
    bandedSignatures(s, d, bpb)
      .groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("occ"))
      .agg(max(col("occ"))).head().getLong(0)

  /** ANN via random-hyperplane LSH: sign bits per vector in
    * [[SIGN_BANDS]] bands; vectors sharing any band bucket become
    * candidates (equi-join on (band, bits)); candidates dedup to id
    * pairs BEFORE re-joining vectors, then verify with one exact dot
    * each. No cross join anywhere — the 100 TB plan shape. Band WIDTH
    * auto-sizes to the corpus ([[bitsForCorpus]]; pass `bitsPerBand > 0`
    * to pin it) so bucket occupancy stays constant as data grows.
    * Approximate by design (banding trades recall for candidates) →
    * rows-only; exactness oracle is q41. */
  def annLshPairs(s: SparkSession, d: String, bitsPerBand: Int = 0,
                  maxBucketOcc: Int = MaxBucketOcc): DataFrame = {
    val e = withNorm(s, d)
    // "training" the signature size: metadata-cheap count, memoized per
    // (session, dir) so repeat callers (q42, exact=false keep-lists)
    // don't re-run the sizing job
    val bpb = if (bitsPerBand > 0) bitsPerBand
      else bitsForCorpus(corpusCount(s, d))
    if (bitsPerBand <= 0 && bpb != BITS_PER_BAND)
      log.warn(s"annLshPairs band width auto-sized to $bpb bits for $d — departs from " +
        s"the $BITS_PER_BAND-bit oracle literal; q42 is not hash-checkable at this corpus size")
    val banded0 = bandedSignatures(s, d, bpb)
    // hot-bucket prune (see [[MaxBucketOcc]]): the keep-list is tiny
    // (#buckets rows) → broadcast semi-join, no extra shuffle of the data
    val smallBuckets = banded0.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("occ")).where(col("occ") <= maxBucketOcc)
      .select(col("band"), col("bucket"))
    val banded = banded0.join(broadcast(smallBuckets), Seq("band", "bucket"), "left_semi")
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"))
      .distinct()
    // Verify joins: the candidate table is the BIG side (occupancy × n
    // rows) — without a hint Catalyst sort-merge-joins and shuffles it
    // twice (the embedding table at ~260 B/vector crosses the 10 MB
    // auto-broadcast line long before it stops FITTING in an executor).
    // Broadcast the embeddings while the ESTIMATED BYTES fit (r5 advice:
    // a row-count gate passes corpora whose byte size would OOM a
    // default-sized driver); past the cap the shuffled join is genuinely
    // the right plan.
    val estBytes = corpusCount(s, d) * BroadcastBytesPerVector
    def side(idCol: String, v: String, nm: String) = {
      val proj = e.select(col("vec_id").as(idCol),
        col("embedding").as(v), col("nrm").as(nm))
      if (estBytes <= BroadcastMaxBytes) broadcast(proj) else proj
    }
    cand
      .join(side("id1", "v1", "n1"), "id1")
      .join(side("id2", "v2", "n2"), "id2")
      .select(col("id1"), col("id2"),
        round(vecDot(col("v1"), col("v2")) / (col("n1") * col("n2")), 4).as("cos"))
      .where(col("cos") >= 0.45)
      .orderBy(col("id1"), col("id2"))
  }

  /** Oracle for [[annLshPairs]]: the hyperplanes are DETERMINISTIC (pure
    * function of (plane, dim)), so they embed into the SQL as ±1 literal
    * lists — DuckDB recomputes sign bits, value-keyed band buckets,
    * candidate dedup, and the exact-cosine verify with
    * `list_dot_product`. The "approximate" in ANN is a fixed determinate
    * function, so it IS hash-checkable. The literals mirror the
    * [[BITS_PER_BAND]] floor config, which [[bitsForCorpus]] selects at
    * every driver-checked SF (n ≤ 2000) — the auto-sizing only departs
    * from it on corpora the oracle never runs on. */
  def annLshPairsSql: String = {
    def planeList(p: Int): String =
      plane(p).map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
    val bits = (0 until PLANES).map(p =>
      s"CASE WHEN list_dot_product(ed, ${planeList(p)}) > 0 THEN '1' ELSE '0' END AS bit$p")
      .mkString(",\n  ")
    val bandSelects = (0 until SIGN_BANDS).map { b =>
      val parts = (0 until BITS_PER_BAND).map(r => s"bit${b * BITS_PER_BAND + r}")
        .mkString(" || ',' || ")
      s"SELECT vec_id, $b AS band, $parts AS bucket FROM bits"
    }.mkString("\n  UNION ALL ")
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed FROM embeddings),
       | bits AS (
       |  SELECT vec_id, ed,
       |  $bits
       |  FROM e),
       | bands AS (
       |  $bandSelects),
       | cand AS (
       |  SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
       | verified AS (
       |  SELECT id1, id2,
       |    round(list_dot_product(e1.ed, e2.ed) /
       |      (sqrt(list_dot_product(e1.ed, e1.ed)) * sqrt(list_dot_product(e2.ed, e2.ed))), 4) AS cos
       |  FROM cand
       |  JOIN e e1 ON id1 = e1.vec_id
       |  JOIN e e2 ON id2 = e2.vec_id)
       |SELECT id1, id2, cos FROM verified WHERE cos >= 0.45
       |ORDER BY id1, id2""".stripMargin
  }

  /** IVF-style ANN: coarse-quantize the corpus (deterministic seeds =
    * every 100th vector, refined by `refineIters` Lloyd step(s)), search
    * only the probe's cell. The centroid table is tiny and broadcast at
    * every use (assignment + probe routing); each query touches
    * 1/|cells| of the corpus. Rows-only (cell routing is
    * engine-internal).
    *
    * The Lloyd step is all DataFrame ops: broadcast argmax assignment,
    * then the per-cell mean via posexplode → (cell, dim) partial-agg'd
    * avg → re-assembled array. The explode shuffles |corpus|·dims rows
    * once per iteration — the standard distributed k-means cost, run
    * once here ("training" IVF lists is a batch job; routing reuses the
    * result).
    *
    * TRAINING/SPEC VARIANT — NOT A SERVE PATH (r13 verdict item 8): this
    * float-cosine Lloyd variant exists as the engine-internal comparison
    * target for the quantized gate face (its one caller is
    * PipelineSparkSpec's IVF-vs-exact comparison). Its assignment still
    * routes through the n×cells fan-out ([[argmaxCell]]) because float
    * scores can't ride [[ArgmaxExprs.ArgmaxDotCell]]'s integer-exact
    * broadcast argmax; every SERVE path (q43/q126/q152/q143/q156/q159/
    * q161/q164) uses the quantized [[assignCells]] map instead. Do not
    * wire this into a gate face or a production route. */
  def ivfTopK(s: SparkSession, d: String, refineIters: Int = 1): DataFrame = {
    val e = withNorm(s, d)
    // argmax as a hash aggregate over a NARROW frame, wide columns
    // re-attached after (the r11 narrow-argmax rule + r12 [[argmaxCell]])
    def assign(cent: DataFrame): DataFrame =
      e.join(
        argmaxCell(
          e.join(broadcast(cent))
            .select(col("vec_id"), col("cent_id"),
              (vecDot(col("embedding"), col("cvec")) / (col("nrm") * col("cnrm"))).as("csim")),
          col("csim")), "vec_id")
        .select(col("vec_id"), col("embedding"), col("nrm"), col("cent_id"))
    var cent = e.where(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"), col("nrm").as("cnrm"))
    for (_ <- 0 until refineIters) {
      val means = assign(cent)
        .select(col("cent_id"), posexplode(col("embedding")).as(Seq("i", "x")))
        .groupBy(col("cent_id"), col("i")).agg(avg(col("x")).as("m"))
        .groupBy(col("cent_id"))
        // array_sort on struct<i,m> orders by i (first field) → dims align
        .agg(transform(array_sort(collect_list(struct(col("i"), col("m")))),
          p => p.getField("m")).as("cvec"))
      cent = means.select(col("cent_id"), col("cvec"), vecNorm(col("cvec")).as("cnrm"))
    }
    val assigned = assign(cent)
    val probes = assigned.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        col("nrm").as("qnrm"), col("cent_id").as("qcell"))
    val wTop = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid").asc)
    assigned.join(broadcast(probes),
        col("cent_id") === col("qcell") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"),
        round(vecDot(col("qvec"), col("embedding")) / (col("qnrm") * col("nrm")), 4).as("cos"))
      .withColumn("rank", row_number().over(wTop))
      .where(col("rank") <= 10)
      .orderBy(col("qid"), col("rank"))
  }

  /** IVF on the int8-QUANTIZED corpus (q43's gate face) — same list
    * structure as [[ivfTopK]] but every comparison is an exact integer:
    * centroids are the quantized seed vectors (every 100th, no Lloyd
    * step), cell routing is argmax over integer centroid dots, and the
    * in-cell ranking is the q48 integer-dot rank. Integer dots of int8
    * vectors are ≤ 64·127² — exactly representable, order-independent —
    * so routing has NO float ties and the whole pipeline replays
    * verbatim in DuckDB (this is what flipped q43 from rows-only to
    * hash-checked; the float/Lloyd variant stays as the spec-compared
    * engine path).
    *
    * Scale: identical join shapes to [[ivfTopK]] — tiny centroid table
    * broadcast into the assignment, probes broadcast into one cell's
    * worth of candidates; at a fixed cell count the assignment cost is
    * linear in n. */
  def ivfTopKQuantized(s: SparkSession, d: String, k: Int = 10): DataFrame = {
    val qe = quantizedEmbeddings(s, d)
    // anchor rule is a BOUNDED literal (<= 64 anchors): at gate SFs
    // (ids < 2000) the cap never binds, so the oracle hash is
    // unchanged, while decade corpora keep the assignment fan-out at
    // n x 64 instead of n x n/100 (r11 - the same cells-prop-to-n knee
    // q126 was called on; here the fix is hash-neutral)
    val cent = fixedCells(qe)
    // r13: assignment is a broadcast-argmax MAP over the corpus scan
    // ([[assignCells]]) — no n×cells fan-out, no join, no aggregate
    val assigned = assignCells(s, qe, cent)
      .select(col("vec_id"), col("q8"), col("cent_id"))
    val probes = assigned.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("q8").as("qv"), col("cent_id").as("qcell"))
    val wTop = Window.partitionBy(col("qid")).orderBy(col("dot").desc, col("cid").asc)
    assigned.join(broadcast(probes),
        col("cent_id") === col("qcell") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"),
        vecDot(col("qv"), col("q8")).cast("long").as("dot"))
      .withColumn("rank", row_number().over(wTop))
      .where(col("rank") <= k)
      .orderBy(col("qid"), col("rank"))
  }

  val ivfTopKQuantizedSql: String =
    """WITH base AS (
      |  SELECT vec_id, embedding,
      |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
      |  FROM embeddings),
      | q8 AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CASE WHEN ma > 0
      |      THEN floor(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) ELSE 0.0 END) AS q
      |  FROM base),
      | cent AS (SELECT vec_id AS cent_id, q AS cq FROM q8
      |         WHERE vec_id % 100 = 0 AND vec_id < 6400),
      | assigned AS (
      |  SELECT vec_id, q, cent_id FROM (
      |    SELECT v.vec_id, v.q, c.cent_id,
      |      row_number() OVER (PARTITION BY v.vec_id
      |        ORDER BY CAST(list_dot_product(v.q, c.cq) AS BIGINT) DESC,
      |                 c.cent_id ASC) AS rn
      |    FROM q8 v CROSS JOIN cent c) WHERE rn = 1),
      | probes AS (
      |  SELECT vec_id AS qid, q AS qv, cent_id AS qcell
      |  FROM assigned WHERE vec_id < 5),
      | dots AS (
      |  SELECT p.qid, a.vec_id AS cid,
      |    CAST(list_dot_product(p.qv, a.q) AS BIGINT) AS dot
      |  FROM assigned a JOIN probes p
      |    ON a.cent_id = p.qcell AND a.vec_id <> p.qid),
      | ranked AS (
      |  SELECT qid, cid, dot,
      |    row_number() OVER (PARTITION BY qid ORDER BY dot DESC, cid ASC) AS rank
      |  FROM dots)
      |SELECT qid, cid, dot, rank FROM ranked WHERE rank <= 10
      |ORDER BY qid, rank""".stripMargin

  /** q164 — MULTI-PROBE IVF RETRIEVAL (`nprobe`, r13 verdict item 1):
    * the standard recall-vs-cost lever the single-cell search
    * ([[ivfTopKQuantized]]) lacked. When q144's recall audit sags, a
    * production vector stack widens each query to its top-`nprobe`
    * cells instead of re-training the index — candidates grow ∝ nprobe
    * (each extra probe adds one more cell's occupancy, ~n/|cells|
    * rows), recall recovers the near-boundary neighbors that routed to
    * a runner-up cell. Index assignment is UNCHANGED (each corpus
    * vector lives in exactly ONE cell — the artifact q126/q159/q161
    * maintain); only the QUERY side widens, which is what makes nprobe
    * a free knob: no index rebuild, no storage change.
    *
    * Everything stays exact-integer (the q43 regime): probe cells come
    * from the codegen'd [[graft.functions.ArgmaxExprs.TopPDotCells]]
    * ranking (dot desc, cent_id asc — no float ties), in-cell ranking
    * is the integer-dot window. A candidate meets a query at most once
    * (its one cell matches at most one of the query's distinct probe
    * cells), so no dedup step is needed and DuckDB replays the whole
    * pipeline verbatim — hash-checked, not rows-only.
    *
    * Scale: the corpus side is ONE broadcast-argmax map (n rows in, n
    * out, zero exchanges); the probe side is |probes|·nprobe rows
    * broadcast into the cell-partitioned candidates. Per query the
    * serve cost is nprobe cells' occupancy — the production cost model,
    * linear in nprobe, measured per decade in probe_r14.txt. */
  def ivfTopKMultiProbe(s: SparkSession, d: String, k: Int = 10,
      nprobe: Int = 3): DataFrame = {
    val qe = quantizedEmbeddings(s, d)
    // the q43/q143 bounded anchor grid — same cells as the single-probe
    // face, so recall deltas are attributable to nprobe alone
    val cent = fixedCells(qe)
    val assigned = assignCells(s, qe, cent)
      .select(col("vec_id"), col("q8"), col("cent_id"))
    val probes = assignCellsTopP(s, qe.where(col("vec_id") < 5), cent, nprobe)
      .select(col("vec_id").as("qid"), col("q8").as("qv"),
        explode(col("probe_cells")).as("qcell"))
    val wTop = Window.partitionBy(col("qid")).orderBy(col("dot").desc, col("cid").asc)
    assigned.join(broadcast(probes),
        col("cent_id") === col("qcell") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"),
        vecDot(col("qv"), col("q8")).cast("long").as("dot"))
      .withColumn("rank", row_number().over(wTop))
      .where(col("rank") <= k)
      .orderBy(col("qid"), col("rank"))
  }

  /** Oracle for [[ivfTopKMultiProbe]] at nprobe = 3: the q43 CTEs with
    * the probe routing widened to `rn <= 3`. */
  val ivfTopKMultiProbeSql: String =
    """WITH base AS (
      |  SELECT vec_id, embedding,
      |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
      |  FROM embeddings),
      | q8 AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CASE WHEN ma > 0
      |      THEN floor(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) ELSE 0.0 END) AS q
      |  FROM base),
      | cent AS (SELECT vec_id AS cent_id, q AS cq FROM q8
      |         WHERE vec_id % 100 = 0 AND vec_id < 6400),
      | assigned AS (
      |  SELECT vec_id, q, cent_id FROM (
      |    SELECT v.vec_id, v.q, c.cent_id,
      |      row_number() OVER (PARTITION BY v.vec_id
      |        ORDER BY CAST(list_dot_product(v.q, c.cq) AS BIGINT) DESC,
      |                 c.cent_id ASC) AS rn
      |    FROM q8 v CROSS JOIN cent c) WHERE rn = 1),
      | probes AS (
      |  SELECT vec_id AS qid, q AS qv, cent_id AS qcell FROM (
      |    SELECT v.vec_id, v.q, c.cent_id,
      |      row_number() OVER (PARTITION BY v.vec_id
      |        ORDER BY CAST(list_dot_product(v.q, c.cq) AS BIGINT) DESC,
      |                 c.cent_id ASC) AS rn
      |    FROM q8 v CROSS JOIN cent c WHERE v.vec_id < 5) WHERE rn <= 3),
      | dots AS (
      |  SELECT p.qid, a.vec_id AS cid,
      |    CAST(list_dot_product(p.qv, a.q) AS BIGINT) AS dot
      |  FROM assigned a JOIN probes p
      |    ON a.cent_id = p.qcell AND a.vec_id <> p.qid),
      | ranked AS (
      |  SELECT qid, cid, dot,
      |    row_number() OVER (PARTITION BY qid ORDER BY dot DESC, cid ASC) AS rank
      |  FROM dots)
      |SELECT qid, cid, dot, rank FROM ranked WHERE rank <= 10
      |ORDER BY qid, rank""".stripMargin

  /** Int8 symmetric quantization of the embedding column: per-vector
    * scale 127/max|x|, q_i = floor(x_i·127/max|x| + 0.5). `floor(+0.5)`,
    * NOT `round()`: Spark rounds HALF_UP and DuckDB HALF_EVEN, so an
    * exact .5 would diverge — floor is identical everywhere, and the
    * asymmetry at negative .5 is the same on both engines. The all-zero
    * vector quantizes to zeros (no 0/0). Values stay exact small
    * integers, carried as array<double> so the codegen'd [[VectorExprs]]
    * dot kernel applies. */
  /** The int8-quantized corpus as a SHARED MATERIALIZED table per
    * (session, dir) — the LSH pair-table convention ([[SharedPlans]])
    * applied to the vector hot path. This is a correctness-of-scale
    * fix, not a convenience: [[quantizeInt8]]'s `transform` HOF is
    * CodegenFallback, and without a materialization barrier Spark
    * collapses the quantize projection INTO the fan-out assignment
    * join, re-evaluating the interpreted per-element lambda once per
    * (vector × anchor) PAIR — the r11 sf1 probes measured q143 at
    * 88-171 s and q144 at 242 s from exactly this (n·cells interpreted
    * 64-element transforms), vs seconds once the quantized table is
    * materialized n-sized.
    *
    * r12 (r11 verdict item 1): the table is now the PERSISTED artifact
    * the r11 doc promised — quantized ONCE per source content
    * (fingerprint-keyed like the BPE model, so regenerated testdata
    * keys a fresh artifact) and written to parquet; every vector-family
    * consumer (q40-q48, q106, q115, q120, q126, q143, q144) reads the
    * artifact as a PLAIN SCAN — deliberately NOT [[SharedPlans]]-cached
    * anymore: the r11 persist existed to keep the CodegenFallback
    * quantize HOF from re-running per consumer, but the artifact
    * already holds materialized q8 arrays, so a codegen'd
    * column-pruned parquet scan beats paying cache materialization
    * every time the bench/verify pass boundary clears the cache (the
    * r12 mid-round bench measured exactly that residue on q115). The
    * int-valued doubles round-trip parquet exactly, so the gate hashes
    * prove the disk leg lossless (the q51/q126 artifact convention).
    * At 100 TB this IS the production shape: the quantized corpus
    * lives next to the IVF index and the daily batch never re-encodes
    * it. */
  def quantizedEmbeddings(s: SparkSession, d: String): DataFrame =
    s.read.parquet(quantizedArtifact(s, d))

  /** Build-once path of [[quantizedEmbeddings]]. The repartition
    * BEFORE the write matters twice over: the source is one compact
    * parquet split, so without it the artifact would be one file and
    * every downstream scan single-threaded (r11: q126 sf10 512 s against
    * a 1-partition cache); with it the artifact carries session-width
    * files and scans parallel. */
  private def quantizedArtifact(s: SparkSession, d: String): String =
    Scratch.artifact(s"quant8_${Tables.sourceFingerprint(d, "embeddings")}") { dir =>
      quantizeInt8(Tables.embeddings(s, d)).select(col("vec_id"), col("q8"))
        .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt)
        .write.mode("overwrite").parquet(s"$dir/q8")
    } + "/q8"

  /** Deterministic per-vector argmax over an assignment fan-out — the
    * (vec_id, cent_id) maximizing (score, −cent_id), i.e. highest score
    * with ties to the SMALLEST cent_id: exactly the old
    * `row_number over (partition by vec_id order by score desc,
    * cent_id asc) = 1`, but as a HASH AGGREGATE (`max_by` on an ordered
    * struct) instead of a window. The difference is the execution
    * model, not the answer: the fan-out join emits n×cells rows, and a
    * window must SORT them (Spark's WindowGroupLimit prunes rows but
    * only after a full local sort), while max_by partial-aggregates
    * each partition down to ≤ one row per vec BEFORE the exchange — the
    * shuffle carries ~n rows instead of n×cells. Measured (r12): the
    * q152 sf30 assignment (600k vecs × 774 cells = 464M rows) ran 123 s
    * through the window sort and seconds through this. */
  private def argmaxCell(fanout: DataFrame, score: Column): DataFrame =
    fanout.groupBy(col("vec_id"))
      .agg(max_by(col("cent_id"), struct(score, -col("cent_id"))).as("cent_id"))

  /** r13 (r12 verdict item 1): quantized-corpus cell assignment WITHOUT
    * the n×cells fan-out. Collects the centroid table once (bounded —
    * every caller's grid is ≤ 64 anchors or ≈ √n stride rows, the same
    * table those callers already broadcast into the join), ships it as
    * a broadcast-variable-backed [[graft.functions.CentroidMatrix]],
    * and appends `cent_id` via the codegen'd
    * [[graft.functions.ArgmaxExprs.ArgmaxDotCell]] — a pure map over
    * the corpus scan: n rows in, n rows out, no join, no aggregate, no
    * exchange, no sort. The r12 `max_by` shape still materialized (and
    * partial-SORT-aggregated) n×cells rows; with cells ∝ √n that is
    * n^1.5 rows — this is the shape that stays linear at 100 TB.
    * Bit-exact vs the fan-out argmax: integer dots, ties to smallest
    * cent_id (ids sorted ascending + strict `>`). `cent` must have
    * columns (cent_id: long, cq: array<double>); rows are collected
    * driver-side, so callers keep grids bounded (they already must, to
    * broadcast-join them). */
  /** Centroid-count ceiling for the broadcast grid: every caller's grid
    * is ≤ 64 anchors or ≈ √n stride rows, so 2²⁰ cells (≈ 512 MB of
    * 64-dim doubles — the broadcast budget, and n ≈ 10¹² at cells = √n)
    * is far above any intended geometry; a grid past it means a caller
    * lost its bound and should use the join-regime assignment instead.
    * The guard also keeps `cells × dims` safely inside Int for the flat
    * array allocation and the `c * dims` index arithmetic. */
  val MaxBroadcastCells: Int = 1 << 20

  /** Collect + flatten + broadcast one centroid grid, MEMOIZED per
    * (session, content) via [[SharedPlans.cachedBroadcast]] — r13
    * advice: a fresh broadcast per call is a BlockManager leak across
    * q161's waves and repeated bench passes; content-keying (MD5 over
    * ids + dims + flat values) bounds live broadcasts at the number of
    * distinct grids a session ever builds. */
  private def centroidBroadcast(s: SparkSession, cent: DataFrame)
      : org.apache.spark.broadcast.Broadcast[graft.functions.CentroidMatrix] = {
    val rows = cent.select(col("cent_id"), col("cq")).collect()
    require(rows.nonEmpty, "assignCells: empty centroid table")
    require(rows.length <= MaxBroadcastCells,
      s"assignCells: ${rows.length} centroids exceeds the broadcast-grid " +
        s"ceiling ($MaxBroadcastCells) — use a bounded/√n grid or the " +
        "join-regime assignment (kmeansAssign viaJoin) for grids this large")
    val sorted = rows.sortBy(_.getLong(0))
    val dims = sorted.map(_.getSeq[Double](1).length).max
    val flatLen = math.multiplyExact(sorted.length, dims) // overflow-guarded
    val ids = sorted.map(_.getLong(0))
    val flat = new Array[Double](flatLen)
    var c = 0
    while (c < sorted.length) {
      val v = sorted(c).getSeq[Double](1)
      var j = 0
      while (j < v.length) { flat(c * dims + j) = v(j); j += 1 }
      c += 1
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    val bb = java.nio.ByteBuffer.allocate(8 * (ids.length + flat.length) + 4)
    bb.putInt(dims); ids.foreach(bb.putLong); flat.foreach(bb.putDouble)
    val key = "centMatrix|" + md.digest(bb.array())
      .map("%02x".format(_)).mkString
    SharedPlans.cachedBroadcast(s, key)(
      s.sparkContext.broadcast(graft.functions.CentroidMatrix(ids, flat, dims)))
  }

  private[graft] def assignCells(s: SparkSession, qe: DataFrame, cent: DataFrame): DataFrame = {
    val bc = centroidBroadcast(s, cent)
    qe.withColumn("cent_id", org.apache.spark.sql.GraftBridge.column(
      graft.functions.ArgmaxExprs.ArgmaxDotCell(
        org.apache.spark.sql.GraftBridge.expression(col("q8")), bc)))
  }

  /** The fixed 64-cell anchor grid (cent_id, cq): every 100th quantized
    * vector below 6400 — the literal the oracles replay. */
  private[graft] def fixedCells(qe: DataFrame): DataFrame =
    qe.where(col("vec_id") % 100 === 0 && col("vec_id") < 6400)
      .select(col("vec_id").as("cent_id"), col("q8").as("cq"))

  /** The stride grid (stride, cells): every vector with
    * `vec_id % stride = 1` anchors a cell. `centStride` > 0 pins the
    * stride (the gate faces pin 100 for oracle parity); 0 sizes it to
    * ≈ √n of the session's cached corpus count, so routing AND in-cell
    * search stay at n^1.5. */
  private def strideCells(s: SparkSession, d: String, qe: DataFrame,
      centStride: Int): (Int, DataFrame) = {
    val stride =
      if (centStride > 0) centStride
      else math.max(2, math.round(math.sqrt(
        SharedPlans.cachedCount(s, s"embCount|$d")(qe.count()).toDouble)).toInt)
    (stride, qe.where(col("vec_id") % stride === 1)
      .select(col("vec_id").as("cent_id"), col("q8").as("cq")))
  }

  /** Multi-probe routing (r13 verdict item 1): appends `probe_cells` —
    * the top-`p` cent_ids by integer dot, ordered (dot desc, cent_id
    * asc) — via the codegen'd
    * [[graft.functions.ArgmaxExprs.TopPDotCells]] map. Same zero-fanout
    * shape as [[assignCells]] (p = 1 degenerates to it exactly); the
    * probe side explodes to p rows per QUERY, never per corpus vector. */
  private[graft] def assignCellsTopP(s: SparkSession, qe: DataFrame,
      cent: DataFrame, p: Int): DataFrame = {
    val bc = centroidBroadcast(s, cent)
    qe.withColumn("probe_cells", org.apache.spark.sql.GraftBridge.column(
      graft.functions.ArgmaxExprs.TopPDotCells(
        org.apache.spark.sql.GraftBridge.expression(col("q8")), bc, p)))
  }

  def quantizeInt8(e: DataFrame): DataFrame =
    e.withColumn("_ma",
        array_max(transform(col("embedding"), x => abs(x.cast("double")))))
      .withColumn("q8", transform(col("embedding"), x =>
        when(col("_ma") > 0,
          floor(x.cast("double") * lit(127.0) / col("_ma") + lit(0.5)).cast("double"))
          .otherwise(lit(0.0))))
      .drop("_ma")

  /** Quantized retrieval (q48): top-k by INTEGER dot product of int8
    * vectors — the memory-bandwidth-saving scale trick (4 bytes→1 per
    * component on the wire at 100 TB; here the win is demonstrating the
    * quantize→retrieve pipeline is engine-portable). The dot of two int8
    * vectors is an exact integer (≤ 64·127² < 2^53, exact in double, and
    * order-independent — every partial sum is exactly representable), so
    * the rank is fully deterministic: no FP rounding in the ORDER BY at
    * all, stronger than the rounded-cosine pattern. */
  def quantizedTopK(s: SparkSession, d: String, k: Int = 5): DataFrame = {
    val qe = quantizedEmbeddings(s, d)
    val probes = qe.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("q8").as("qv"))
    val sims = qe.join(broadcast(probes), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"),
        vecDot(col("qv"), col("q8")).cast("long").as("dot"))
    val w = Window.partitionBy(col("qid")).orderBy(col("dot").desc, col("cid").asc)
    sims.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .orderBy(col("qid"), col("rank"))
  }

  /** Per-label centroids of the int8-QUANTIZED embeddings (q68) — class
    * centroids / mean-pooling, the supervision-side vector aggregate.
    * Quantizing first makes the whole aggregation exact-integer: sums of
    * int8 values are order-independent in double (every partial is
    * exactly representable), so the per-(label, dim) sums — and the
    * means derived from one identical division — are bit-identical in
    * any engine at any parallelism. The float version of this query is
    * why q43's centroids are rows-only; the quantized version closes
    * that gap for the supervised face.
    *
    * Scale: posexplode fans out n×64 rows, but partial aggregation
    * collapses each partition to (labels × 64) rows before the shuffle —
    * the map-side-combine shape that survives any n. */
  def labelCentroids(s: SparkSession, d: String): DataFrame =
    quantizeInt8(Tables.embeddings(s, d))
      .select(col("label"), posexplode(col("q8")).as(Seq("dim", "q")))
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("q")).cast("long").as("sum_q"))
      // NO round(): sum_q/n is a ratio of small exact integers, which CAN
      // land exactly on a 4-decimal .5 boundary (1/32 = 0.03125), where
      // Spark's HALF_UP and DuckDB's HALF_EVEN disagree. The raw IEEE
      // division of identical integer operands is bit-identical across
      // engines — rounding would only ADD divergence risk here.
      .withColumn("mean_q", col("sum_q") / col("n"))
      .orderBy(col("label"), col("dim"))

  val labelCentroidsSql: String =
    """WITH q8 AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding, x -> CASE WHEN ma > 0
      |      THEN floor(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) ELSE 0.0 END) AS q
      |  FROM (SELECT vec_id, label, embedding,
      |          list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
      |        FROM embeddings)),
      | ex AS (
      |  SELECT label, generate_subscripts(q, 1) - 1 AS dim, unnest(q) AS qv
      |  FROM q8)
      |SELECT label, CAST(dim AS INT) AS dim, count(*) AS n,
      |  CAST(sum(qv) AS BIGINT) AS sum_q,
      |  CAST(sum(qv) AS BIGINT) / count(*) AS mean_q
      |FROM ex GROUP BY label, dim
      |ORDER BY label, dim""".stripMargin

  /** Deterministic ±1 sign matrix for random projection, derived from
    * md5 parity of "i_j" (input dim i, output dim j) — computable
    * identically on the driver (here) and in any SQL engine with md5
    * (`CAST('0x' || substr(md5(i||'_'||j), 1, 2) AS INT) % 2`), so the
    * projection is engine-portable with NO shipped matrix artifact. */
  def signMatrix(inDims: Int, outDims: Int): Array[Array[Int]] =
    Array.tabulate(outDims, inDims) { (j, i) =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${i}_${j}".getBytes("UTF-8"))
      if (((h(0) & 0xFF) % 2) == 0) 1 else -1
    }

  /** ±1 random projection of int8-quantized embeddings 64 → `outDims`
    * dims — the cheap JL-style reduction in front of ANN/clustering at
    * 100 TB (4× fewer components to shuffle/compare, cosine structure
    * approximately preserved). Quantizing FIRST makes every arithmetic
    * step exact: products ≤ 127, sums ≤ 64·127 < 2^13 — all integers,
    * bit-identical on any engine, no FP-order hazard. Narrow: each
    * output dim is a codegen'd [[graft.functions.VectorExprs.DotProduct]]
    * against a sign-vector LITERAL — zero shuffle, no matrix join, and
    * no per-row lambda dispatch/allocation (the r8 sf30 probe measured
    * the aggregate-HOF formulation's per-vector cost RISING with heap
    * pressure at the third decade; the primitive-loop kernel is the
    * allocation-free form — semantics identical, index-ordered sums). */
  def randomProjection(e: DataFrame, outDims: Int = 16): DataFrame = {
    val q = quantizeInt8(e)
    val signs = signMatrix(64, outDims)
    val outs = (0 until outDims).map { j =>
      val sLit = typedLit(signs(j).toSeq.map(_.toDouble))
      graft.functions.VectorExprs.vecDot(col("q8"), sLit)
        .cast("long").as(s"p$j")
    }
    q.select(col("vec_id") +: outs: _*)
  }

  /** Gate face (q92): every vector's 16 projected integer components. */
  def randomProjectionGate(s: SparkSession, d: String): DataFrame =
    randomProjection(Tables.embeddings(s, d)).orderBy(col("vec_id"))

  val randomProjectionSql: String = {
    val pivots = (0 until 16).map(j =>
      s"  CAST(max(CASE WHEN j = $j THEN p END) AS BIGINT) AS p$j").mkString(",\n")
    s"""WITH base AS (
       |  SELECT vec_id, embedding,
       |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
       |  FROM embeddings),
       | q8 AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CASE WHEN ma > 0
       |      THEN floor(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) ELSE 0.0 END) AS q
       |  FROM base),
       | dims AS (SELECT unnest(range(0, 64)) AS i),
       | outs AS (SELECT unnest(range(0, 16)) AS j),
       | signs AS (
       |  SELECT i, j,
       |    CASE WHEN CAST('0x' || substr(md5(CAST(i AS VARCHAR) || '_' || CAST(j AS VARCHAR)), 1, 2) AS INT) % 2 = 0
       |         THEN 1.0 ELSE -1.0 END AS s
       |  FROM dims, outs),
       | comps AS (
       |  SELECT q8.vec_id, signs.j,
       |    CAST(sum(q8.q[signs.i + 1] * signs.s) AS BIGINT) AS p
       |  FROM q8, signs GROUP BY 1, 2)
       |SELECT vec_id,
       |$pivots
       |FROM comps GROUP BY vec_id ORDER BY vec_id""".stripMargin
  }

  /** Integer-exact k-means (Lloyd) over int8-quantized embeddings —
    * unsupervised clustering with EVERY step cross-engine deterministic:
    * seeds are the first k vectors' q8; assignment is argmin of exact
    * integer squared distance (≤ 64·254² < 2²³, exact in double;
    * first-min index breaks ties); the centroid update is the
    * floor(sum/count + 0.5) ROUNDED INTEGER MEAN (same convention as
    * quantizeInt8) so centroids stay small exact integers; an empty
    * cluster keeps its previous centroid. No float ever reaches a
    * compared value, so DuckDB replays the full iteration unrolled.
    *
    * Scale: per iteration, ONE narrow assignment pass + one map-side-
    * combined (cluster, dim) sum whose output is BOUNDED at k·64 rows;
    * only that reaches the driver. Iterations are a fixed small
    * constant, the standard training-data clustering budget.
    *
    * Assignment has two regimes, identical semantics (r7 verdict watch
    * item — at k=4096 a k-wide argmin expression is a codegen bomb):
    *  - k ≤ [[KmeansMaxExprK]]: centroids ride as a k×64 LITERAL inside
    *    an argmin expression — zero shuffle, zero extra rows.
    *  - k > [[KmeansMaxExprK]]: centroids become a k-row BROADCAST-
    *    joined table; each vector meets each centroid (×k intermediate,
    *    no shuffle for the join itself) and `min(struct(dist, cluster))`
    *    per vec_id picks the argmin — constant codegen surface at any
    *    k, one hash-agg whose map side collapses the ×k fan-out. */
  val KmeansMaxExprK: Int = 64

  /** One assignment pass: `qe` = (vec_id, q8) → + `cluster`. First-min
    * tie-break in BOTH regimes: `array_position` returns the first index
    * with the min score; `min(struct(score, cluster))` orders by score
    * then cluster — same smallest-cluster winner.
    *
    * The ranking value is ‖c‖² − 2·x·c, NOT the full squared distance:
    * ‖x‖² is constant within a vector's candidate set, so the argmin
    * AND every tie are identical (exact integers in double — the shift
    * preserves equality exactly, not FP-fuzzily), and the kernel
    * becomes ONE codegen'd [[graft.functions.VectorExprs.DotProduct]]
    * per (vector, centroid) instead of the HOF `aggregate(zip_with(…))`
    * difference form. The HOF form is CodegenFallback — interpreted
    * lambda dispatch + a fresh 64-slot array allocation per evaluation —
    * and at production k the assignment is n×k kernels per pass: the
    * r9 probe caught the join regime at 889 s for n=200k, k=512 at sf10
    * (≈ 300M interpreted evals); the q92 lesson, applied here. */
  private[graft] def kmeansAssign(qe: DataFrame, cs: Array[Array[Long]],
      viaJoin: Boolean): DataFrame = {
    import graft.functions.VectorExprs.vecDot
    def normSq(c: Array[Long]): Double = c.map(v => (v * v).toDouble).sum
    if (!viaJoin) {
      val scores = array(cs.map { c =>
        lit(normSq(c)) - lit(2.0d) * vecDot(col("q8"),
          typedLit(c.map(_.toDouble).toSeq))
      }.toIndexedSeq: _*)
      qe.withColumn("cluster",
        (array_position(scores, array_min(scores)) - 1).cast("int"))
    } else {
      val s = qe.sparkSession
      import s.implicits._
      val centDf = cs.zipWithIndex
        .map { case (c, i) => (i, c.map(_.toDouble).toSeq, normSq(c)) }
        .toSeq.toDF("__cl", "__cent", "__cn")
      qe.join(broadcast(centDf))
        .withColumn("__score",
          col("__cn") - lit(2.0d) * vecDot(col("q8"), col("__cent")))
        .groupBy(col("vec_id"))
        .agg(min(struct(col("__score"), col("__cl"))).as("__best"),
          first(col("q8")).as("q8"))
        .select(col("vec_id"), col("q8"),
          col("__best.__cl").cast("int").as("cluster"))
    }
  }

  def kmeansInt(s: SparkSession, d: String, k: Int = 8, iters: Int = 2): DataFrame =
    kmeansIntOn(quantizedEmbeddings(s, d), k, iters)

  /** The Lloyd loop alone: trains and returns the converged centroids
    * over an already-quantized (vec_id, q8) frame; seeds are the first k
    * vec_ids. Shared by [[kmeansIntOn]] (q94) and [[semDedup]] (q115). */
  private[graft] def kmeansFit(qe: DataFrame, k: Int, iters: Int): Array[Array[Long]] = {
    val viaJoin = k > KmeansMaxExprK
    // 64 per-dim sums as flat agg columns — map-side combined, k rows
    // out, NO 64× posexplode row multiplication through the shuffle
    val dimSums = (0 until 64).map(i =>
      sum(element_at(col("q8"), i + 1).cast("long")).as(s"s$i"))
    def applySums(prev: Array[Array[Long]],
        sums: Seq[org.apache.spark.sql.Row]): Array[Array[Long]] = {
      val next = prev.map(_.clone())
      sums.foreach { r =>
        val cl = r.getInt(0); val c = r.getLong(1)
        var i = 0
        while (i < 64) {
          next(cl)(i) = math.floor(r.getLong(2 + i).toDouble / c + 0.5).toLong
          i += 1
        }
      }
      next
    }
    var cents = qe.where(col("vec_id") < k).orderBy(col("vec_id"))
      .collect().map(_.getSeq[Double](1).map(_.toLong).toArray)
    require(cents.length == k, s"need $k seed vectors (vec_id < $k), got ${cents.length}")
    for (_ <- 1 to iters) {
      val sums = kmeansAssign(qe, cents, viaJoin)
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("c"), dimSums: _*)
        .collect()
      cents = applySums(cents, scala.collection.immutable.ArraySeq.unsafeWrapArray(sums))
    }
    cents
  }

  /** Core Lloyd loop over an already-quantized (vec_id, q8) frame; seeds
    * are the first k vec_ids. See [[kmeansInt]]. */
  def kmeansIntOn(qe: DataFrame, k: Int, iters: Int): DataFrame = {
    val cents = kmeansFit(qe, k, iters)
    val viaJoin = k > KmeansMaxExprK
    // final assignment with the converged centroids; per-cluster count +
    // a portable centroid signature
    val centMd5 = cents.map(c => c.mkString(" "))
    val md5Lit = typedLit(centMd5.toSeq)
    kmeansAssign(qe, cents, viaJoin)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"))
      .withColumn("centroid_md5", md5(element_at(md5Lit, col("cluster") + 1)))
      .orderBy(col("cluster"))
  }

  // one Lloyd iteration as SQL: assign by integer squared distance
  // (first-min tie-break via ORDER BY dist, cluster), then the rounded
  // integer mean per (cluster, dim), empty clusters keeping the
  // previous centroid via the LEFT JOIN coalesce. Shared by the q94 and
  // q115 oracles — both replay the identical training pipeline.
  private def kmeansIterSql(prev: String, out: String): String =
    s""" a$out AS (
         |  SELECT q8.vec_id, q8.q, c.cluster,
         |    row_number() OVER (PARTITION BY q8.vec_id
         |      ORDER BY list_sum(list_transform(range(1, 65),
         |        i -> (q8.q[i] - c.cent[i]) * (q8.q[i] - c.cent[i]))) ASC,
         |        c.cluster ASC) AS rk
         |  FROM q8, $prev c),
         | s$out AS (
         |  SELECT cluster, u.i AS dim,
         |    sum(q[u.i]) AS sv, count(*) AS c
         |  FROM (SELECT * FROM a$out WHERE rk = 1),
         |       (SELECT unnest(range(1, 65)) AS i) u
         |  GROUP BY 1, 2),
         | $out AS (
         |  SELECT pd.cluster,
         |    list(CASE WHEN s.sv IS NULL THEN pd.prev_c
         |              ELSE CAST(floor(s.sv * 1.0 / s.c + 0.5) AS BIGINT) END
         |         ORDER BY pd.i) AS cent
         |  FROM (SELECT p.cluster, d.i, p.cent[d.i] AS prev_c
         |        FROM $prev p CROSS JOIN (SELECT unnest(range(1, 65)) AS i) d) pd
         |  LEFT JOIN s$out s ON s.cluster = pd.cluster AND s.dim = pd.i
         |  GROUP BY pd.cluster)""".stripMargin
  /** Shared training-replay prefix for the q94/q115 oracles: quantize →
    * first-8 seeds → two Lloyd iterations → final assignment ranking
    * (`afin`, filter rk = 1 to read it). Consumers append CTEs/SELECT. */
  private def kmeansCoreSql: String =
    s"""WITH base AS (
       |  SELECT vec_id, embedding,
       |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
       |  FROM embeddings),
       | q8 AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CASE WHEN ma > 0
       |      THEN floor(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) ELSE 0.0 END) AS q
       |  FROM base),
       | c0 AS (
       |  SELECT CAST(vec_id AS INT) AS cluster,
       |    list_transform(q, x -> CAST(x AS BIGINT)) AS cent
       |  FROM q8 WHERE vec_id < 8),
       |${kmeansIterSql("c0", "c1")},
       |${kmeansIterSql("c1", "c2")},
       | afin AS (
       |  SELECT q8.vec_id, c.cluster,
       |    row_number() OVER (PARTITION BY q8.vec_id
       |      ORDER BY list_sum(list_transform(range(1, 65),
       |        i -> (q8.q[i] - c.cent[i]) * (q8.q[i] - c.cent[i]))) ASC,
       |        c.cluster ASC) AS rk
       |  FROM q8, c2 c)""".stripMargin

  val kmeansIntSql: String =
    s"""$kmeansCoreSql
       |SELECT f.cluster, count(*) AS n_members,
       |  md5(array_to_string(list_transform(c.cent, x -> CAST(x AS VARCHAR)),
       |      ' ')) AS centroid_md5
       |FROM (SELECT * FROM afin WHERE rk = 1) f
       |JOIN c2 c ON c.cluster = f.cluster
       |GROUP BY f.cluster, c.cent ORDER BY f.cluster""".stripMargin

  /** q115 — SemDeDup (Abbas et al. 2023, arXiv:2303.09540): SEMANTIC
    * deduplication = k-means-cluster the embedding space, then look for
    * near-duplicates only WITHIN each cluster — the published
    * cluster-then-compare recipe that took web-scale semantic dedup from
    * all-pairs-infeasible to routine. Distinct from q44 (exact all-pairs
    * keep-list) and q42 (LSH buckets): here the partition is a LEARNED
    * clustering, so semantically-close pairs that LSH's random planes
    * split are still co-located.
    *
    * Every compared value is exact-integer (the q94/q48 conventions):
    * vectors are int8-quantized; clustering is the q94 integer Lloyd
    * pipeline VERBATIM (same seeds, same rounded-integer centroids, same
    * first-min tie-break — the oracle reuses those CTEs); the near-dup
    * test is the integer cross-multiplied cosine
    *   dot > 0  AND  dot²·den² ≥ num²·‖a‖²·‖b‖²   (τ = num/den = 2/5)
    * so no float ever reaches a compared value (max magnitude
    * 25·(64·127²)² < 2⁴⁵, exact in long/BIGINT). The keep policy is
    * q44's deterministic smaller-id rule applied within the cluster.
    *
    * Scale: clustering cost is q94's (narrow assignment passes + k·64-row
    * aggs). The pair join is the ONLY quadratic piece and it runs
    * per-cluster — in production k grows ∝ n (SemDeDup uses k ≈ n/100·ε)
    * so expected cluster occupancy, and with it candidates per vector,
    * stays constant; the k > 64 broadcast-join assignment regime (q94's
    * guard) already covers that k. Output is per-vector, so downstream
    * filters join on it without recomputing. */
  def semDedup(s: SparkSession, d: String): DataFrame =
    semDedupOn(quantizedEmbeddings(s, d), k = 8, iters = 2, tauNum = 2, tauDen = 5)

  def semDedupOn(qe: DataFrame, k: Int, iters: Int,
      tauNum: Int, tauDen: Int): DataFrame = {
    val cents = kmeansFit(qe, k, iters)
    // cached: used as BOTH join sides and the final keep frame — without
    // it the whole quantize+assign pipeline runs three times (r9 probe).
    // asg is corpus-sized, so it cannot collect to a LocalRelation like
    // the bounded model frames (q118/q125); its lifetime is governed by
    // the harness hygiene contract — Verify clears the cache per query,
    // Bench per pass (see SharedPlans doc) — callers embedding this in a
    // longer-lived session should clearCache() when done
    val asg = kmeansAssign(qe, cents, k > KmeansMaxExprK)
      .withColumn("nn", vecDot(col("q8"), col("q8")).cast("long"))
      .cache()
    val a = asg.select(col("cluster"), col("vec_id").as("id1"),
      col("q8").as("v1"), col("nn").as("n1"))
    val b = asg.select(col("cluster").as("cl2"), col("vec_id").as("id2"),
      col("q8").as("v2"), col("nn").as("n2"))
    val dropped = a.join(b, col("cluster") === col("cl2") && col("id1") < col("id2"))
      .withColumn("dot", vecDot(col("v1"), col("v2")).cast("long"))
      .where(col("dot") > 0 &&
        col("dot") * col("dot") * lit(tauDen.toLong * tauDen) >=
          lit(tauNum.toLong * tauNum) * col("n1") * col("n2"))
      .select(col("id2")).distinct()
    asg.select(col("vec_id"), col("cluster"))
      .join(dropped, asg("vec_id") === dropped("id2"), "left")
      .select(col("vec_id"), col("cluster"), col("id2").isNotNull.as("is_dup"))
      .orderBy(col("vec_id"))
  }

  val semDedupSql: String =
    s"""$kmeansCoreSql,
       | asg AS (SELECT vec_id, cluster FROM afin WHERE rk = 1),
       | nrm AS (SELECT vec_id,
       |   CAST(list_dot_product(q, q) AS BIGINT) AS nn FROM q8),
       | dropped AS (
       |  SELECT DISTINCT id2 FROM (
       |    SELECT b.vec_id AS id2,
       |      CAST(list_dot_product(qa.q, qb.q) AS BIGINT) AS dot,
       |      na.nn AS n1, nb.nn AS n2
       |    FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
       |    JOIN q8 qa ON qa.vec_id = a.vec_id
       |    JOIN q8 qb ON qb.vec_id = b.vec_id
       |    JOIN nrm na ON na.vec_id = a.vec_id
       |    JOIN nrm nb ON nb.vec_id = b.vec_id)
       |  WHERE dot > 0 AND dot * dot * 25 >= 4 * n1 * n2)
       |SELECT a.vec_id, a.cluster, (d.id2 IS NOT NULL) AS is_dup
       |FROM asg a LEFT JOIN dropped d ON d.id2 = a.vec_id
       |ORDER BY a.vec_id""".stripMargin

  val quantizedTopKSql: String =
    """WITH base AS (
      |  SELECT vec_id, embedding,
      |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
      |  FROM embeddings),
      | q8 AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CASE WHEN ma > 0
      |      THEN floor(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) ELSE 0.0 END) AS q
      |  FROM base),
      | dots AS (
      |  SELECT p.vec_id AS qid, c.vec_id AS cid,
      |    CAST(list_dot_product(p.q, c.q) AS BIGINT) AS dot
      |  FROM q8 p JOIN q8 c ON p.vec_id < 5 AND c.vec_id <> p.vec_id),
      | ranked AS (
      |  SELECT qid, cid, dot,
      |    row_number() OVER (PARTITION BY qid ORDER BY dot DESC, cid ASC) AS rank
      |  FROM dots)
      |SELECT qid, cid, dot, rank FROM ranked WHERE rank <= 5
      |ORDER BY qid, rank""".stripMargin

  // q106 PQ geometry: 8 subspaces x 8 dims over the 64-dim embeddings,
  // 16 centroids per subspace, top-10 retrieval for the 5 q48 probes
  private val PqM = 8
  private val PqSub = 8
  private val PqK = 16
  private val PqTopN = 10

  /** q106 — product quantization + asymmetric-distance retrieval (Jégou
    * et al. 2011, the memory-tier below q48's int8: 64 float dims → 8
    * code BYTES per vector, an 8×16-entry distance table per query, and
    * retrieval never touches the original vectors). All arithmetic is
    * exact-integer on the q48 int8 grid, so encode, distance table, and
    * ranking replay bit-for-bit in DuckDB — the hash-exact gate the
    * float PQ literature can't have.
    *
    * Codebook: per subspace, the int8 subvectors of the 16 smallest-id
    * embeddings (deterministic seeds, the k-means-free regime — q94
    * already gates Lloyd training; composing them is a follow-up, not a
    * gate requirement). Encode: argmin_j ||x_m − c_{m,j}||² with (d2, j)
    * tie-break, as one min-struct agg (q88 idiom) over a broadcast join
    * against the 128-row codebook — each vector's 16 candidate rows
    * collapse map-side BEFORE the shuffle, so the exchange carries n×M
    * code rows, not n×M×K candidates. ADC: the 5 probes' 640-row
    * distance table broadcasts; codes join it on (m, code) and one
    * map-side-combined sum per (qid, cid) yields the approximate
    * distance; a per-qid rank window (5 bounded partitions) emits the
    * top-10. At 100 TB: codes are the ONLY n-sized table after encode
    * (8 bytes of payload per vector), every join against it broadcasts
    * a bounded side, and no original vector is ever shuffled. */
  def pqTopKGate(s: SparkSession, d: String): DataFrame =
    pqTopK(Tables.embeddings(s, d))

  def pqTopK(embeddings: DataFrame): DataFrame = {
    val qe = quantizeInt8(embeddings).select(col("vec_id"), col("q8"))
    // n×M rows: (vec_id, m, 8-dim int8 subvector)
    val subs = qe.select(col("vec_id"),
        explode(transform(sequence(lit(0), lit(PqM - 1)), m =>
          struct(m.as("m"), slice(col("q8"), m * PqSub + 1, lit(PqSub)).as("sub")))).as("e"))
      .select(col("vec_id"), col("e.m").as("m"), col("e.sub").as("sub"))
    val seeds = subs.where(col("vec_id") < PqK)
      .select(col("m"), col("vec_id").cast("int").as("j"), col("sub").as("cent"))
    // exact-integer squared L2 on the int8 grid (≤ 8·254² per subspace).
    // r18 (the q94/q92 de-HOF rule, guide §4.1/§1.2 per-task work): the
    // encode kernel runs n×M×K times, and the old `aggregate(zip_with(…))`
    // form is CodegenFallback — interpreted lambda dispatch plus a fresh
    // 8-slot array per evaluation. Expanded to ‖a‖² − 2a·b + ‖b‖² over
    // the codegen'd DotProduct: every term is an exact integer (≤ 8·254²,
    // far under 2⁵³), so values — and the (d2, j) tie-break — are
    // IDENTICAL (oracle re-verified). sf1 A/B (ConfAB, one JVM,
    // alternating): q106 1.19/1.22 s warm-min/med vs HOF 1.65/1.78
    // (−28/−31%); q200 (same pipeline on the rotated grid) 1.11/1.16 vs
    // 1.33/1.37.
    def d2(a: Column, b: Column): Column = {
      import graft.functions.VectorExprs.vecDot
      vecDot(a, a) - lit(2.0d) * vecDot(a, b) + vecDot(b, b)
    }
    val codes = subs.join(broadcast(seeds), Seq("m"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(d2(col("sub"), col("cent")).as("d2"), col("j"))).as("w"))
      .select(col("vec_id"), col("m"), col("w.j").as("code"))
    // 5 probes × 8 subspaces × 16 centroids = 640-row ADC table
    val dtab = subs.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("m"), col("sub").as("qsub"))
      .join(seeds, Seq("m"))
      .select(col("qid"), col("m"), col("j"), d2(col("qsub"), col("cent")).as("dq"))
    val adc = codes.join(broadcast(dtab),
        codes("m") === dtab("m") && codes("code") === dtab("j"))
      .where(col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("vec_id").as("cid"))
      .agg(sum(col("dq")).cast("long").as("adc"))
    val w = Window.partitionBy(col("qid")).orderBy(col("adc").asc, col("cid").asc)
    adc.withColumn("rank", row_number().over(w))
      .where(col("rank") <= PqTopN)
      .orderBy(col("qid"), col("rank"))
  }

  /** The PQ encode→ADC→rank pipeline as oracle CTE text, parameterized
    * only by an upstream CTE named `q8` with (vec_id, q) — shared
    * verbatim by q106 (raw int8 grid) and q200 (OPQ-rotated grid), so
    * the two faces provably replay the same quantizer. */
  private val pqPipelineCtes: String =
    s""" subs AS (
       |  SELECT vec_id, CAST(m AS INT) AS m,
       |    list_slice(q, m * $PqSub + 1, m * $PqSub + $PqSub) AS sub
       |  FROM q8, range($PqM) t(m)),
       | seeds AS (
       |  SELECT m, CAST(vec_id AS INT) AS j, sub AS cent
       |  FROM subs WHERE vec_id < $PqK),
       | cand AS (
       |  SELECT s.vec_id, s.m, c.j,
       |    list_dot_product(s.sub, s.sub) - 2 * list_dot_product(s.sub, c.cent)
       |      + list_dot_product(c.cent, c.cent) AS d2
       |  FROM subs s JOIN seeds c USING (m)),
       | codes AS (
       |  SELECT vec_id, m, j AS code FROM (
       |    SELECT vec_id, m, j,
       |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, j) AS rn
       |    FROM cand) WHERE rn = 1),
       | dtab AS (
       |  SELECT s.vec_id AS qid, s.m, c.j,
       |    list_dot_product(s.sub, s.sub) - 2 * list_dot_product(s.sub, c.cent)
       |      + list_dot_product(c.cent, c.cent) AS dq
       |  FROM subs s JOIN seeds c USING (m) WHERE s.vec_id < 5),
       | adc AS (
       |  SELECT d.qid, k.vec_id AS cid, CAST(sum(d.dq) AS BIGINT) AS adc
       |  FROM codes k JOIN dtab d ON d.m = k.m AND d.j = k.code
       |  WHERE k.vec_id <> d.qid
       |  GROUP BY d.qid, k.vec_id),
       | ranked AS (
       |  SELECT qid, cid, adc,
       |    row_number() OVER (PARTITION BY qid ORDER BY adc ASC, cid ASC) AS rank
       |  FROM adc)""".stripMargin

  private val pqSelect: String =
    s"""SELECT qid, cid, adc, rank FROM ranked WHERE rank <= $PqTopN
       |ORDER BY qid, rank""".stripMargin

  val pqTopKSql: String =
    s"""WITH base AS (
       |  SELECT vec_id, embedding,
       |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
       |  FROM embeddings),
       | q8 AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CASE WHEN ma > 0
       |      THEN floor(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) ELSE 0.0 END) AS q
       |  FROM base),
       |$pqPipelineCtes
       |$pqSelect""".stripMargin

  /** q200 — OPQ-PQ RETRIEVAL (the quantization ladder's last rung AS A
    * GATE FACE, not just a spec): PQ+ADC over the OPQ-ROTATED grid —
    * rotate each int8 vector by the q199 artifact (exact integer
    * projection), re-quantize the rotated vector to its own int8 grid
    * (the identical IEEE multiply-then-divide both engines share, the
    * q48 rule), then run EXACTLY q106's encode→distance-table→ADC→rank
    * pipeline (the oracle splices the SAME CTE text, so raw-PQ and
    * OPQ-PQ provably replay the same quantizer). The anisotropic-gain /
    * isotropic-loss recall story lives in the R16OpsSpec + probe_r16 —
    * this face pins the PIPELINE, end to end, bit-for-bit.
    *
    * Scale: q106's cost envelope plus one broadcast rotation map per
    * vector (64 codegen'd dots, narrow) — codes remain the only
    * n-sized table after encode. */
  def opqPqTopK(s: SparkSession, d: String): DataFrame =
    pqTopK(rotatedEmbeddings(s, d))

  /** Oracle for [[opqPqTopK]] — rotation replayed from `__Q199_ROT__`,
    * then the shared PQ pipeline CTEs verbatim. */
  val opqPqTopKSql: String =
    s"""WITH base0 AS (
       |  SELECT vec_id, embedding,
       |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
       |  FROM embeddings),
       | q8r AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CASE WHEN ma > 0
       |      THEN floor(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) ELSE 0.0 END) AS q
       |  FROM base0),
       | rot AS (
       |  SELECT comp, dim, r FROM read_parquet('__Q199_ROT__/*.parquet')),
       | rv AS (
       |  SELECT comp, list(CAST(r AS DOUBLE) ORDER BY dim) AS rvec
       |  FROM rot GROUP BY comp),
       | yv AS (
       |  SELECT t.vec_id, rv.comp, list_dot_product(rv.rvec, t.q) AS y
       |  FROM q8r t CROSS JOIN rv),
       | ye AS (
       |  SELECT vec_id, list(y ORDER BY comp) AS emb FROM yv GROUP BY vec_id),
       | b2 AS (
       |  SELECT vec_id, emb,
       |    list_max(list_transform(emb, x -> abs(CAST(x AS DOUBLE)))) AS ma
       |  FROM ye),
       | q8 AS (
       |  SELECT vec_id,
       |    list_transform(emb, x -> CASE WHEN ma > 0
       |      THEN floor(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) ELSE 0.0 END) AS q
       |  FROM b2),
       |$pqPipelineCtes
       |$pqSelect""".stripMargin

  /** q120 — corpus Gram/scatter matrix over the int8-quantized
    * embeddings: Σ xᵢxⱼ for every dim pair i ≤ j, via ONE
    * [[graft.functions.GramAgg]] pass (buffer = 2080 longs, merged
    * element-wise map-side). This is the foundation statistic for
    * PCA/whitening/OPQ rotation over an embedding corpus — the step a
    * 100 TB pipeline runs BEFORE q92's projection or q106's PQ to pick
    * the basis — and the reason it must be one bounded-buffer scan: the
    * explode-to-(i,j)-and-groupBy formulation (exactly what the DuckDB
    * oracle runs, n·d²/2 rows through a shuffle) is the plan that dies
    * first at scale, so gate equality is the agg-replaces-explode proof,
    * the q97/q102 bounded-agg convention applied to a matrix.
    *
    * All-integer on the q48 int8 grid: every entry is an exact sum of
    * |x| ≤ 127 products, hash-exact across engines. Output: one row per
    * (i, j) upper-triangle cell. The trace (Σ diagonal) and per-dim
    * means derive downstream; they are deliberately not separate scans. */
  def gramMatrix(s: SparkSession, d: String): DataFrame = {
    import graft.functions.GramAgg.gramUpper
    val dim = 64
    val g = quantizeInt8(Tables.embeddings(s, d))
      .agg(gramUpper(col("q8"), dim).as("g"))
    // unpack positionally: flatten(transform...) generates (i,j) pairs in
    // the buffer's row-major upper-triangle order, so pos indexes g
    val ij = flatten(transform(sequence(lit(0), lit(dim - 1)), i =>
      transform(sequence(i, lit(dim - 1)), j =>
        struct(i.as("i"), j.as("j")))))
    g.select(col("g"), posexplode(ij))
      .select(col("col.i").as("i"), col("col.j").as("j"),
        element_at(col("g"), col("pos") + 1).as("s"))
      .orderBy(col("i"), col("j"))
  }

  val gramMatrixSql: String =
    """WITH base AS (
      |  SELECT vec_id, embedding,
      |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
      |  FROM embeddings),
      | q8 AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CASE WHEN ma > 0
      |      THEN floor(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) ELSE 0.0 END) AS q
      |  FROM base),
      | ex AS (
      |  SELECT vec_id, unnest(q) AS x, generate_subscripts(q, 1) AS i
      |  FROM q8)
      |SELECT CAST(a.i - 1 AS INT) AS i, CAST(b.i - 1 AS INT) AS j,
      |  CAST(sum(a.x * b.x) AS BIGINT) AS s
      |FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.i <= b.i
      |GROUP BY 1, 2
      |ORDER BY i, j""".stripMargin

  // ---------------------------------------------------------------------
  // q199: PCA/OPQ rotation — the q120 Gram matrix's consumer
  // ---------------------------------------------------------------------

  /** Fixed-point grid of the rotation: round(v · 2¹⁴). 14 bits per
    * component keeps every projection y = R_q·x ≤ 64·2¹⁴·127 ≈ 1.3·10⁸
    * exactly representable in double AND long in both engines. */
  private[graft] val RotScale = 16384L

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix — the
    * textbook O(n³)-per-sweep method (Golub & Van Loan §8.5), chosen
    * because it is ~40 lines of plain deterministic double arithmetic:
    * no library dependency, no randomness, fixed sweep order, so the
    * fingerprint-keyed rotation artifact rebuilds bit-identically.
    * Returns (eigenvalues, eigenvector COLUMNS as rows of the second
    * array): a ≈ Σ λ_k · v_k v_kᵀ. Only the eigenvector directions and
    * the eigenvalue ORDER are consumed downstream (the exact λ̂ report
    * is recomputed on the quantized grid), so double rounding here can
    * never reach a gate-compared value. */
  private[graft] def jacobiEig(a0: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val n = a0.length
    val a = Array.tabulate(n, n)((i, j) => a0(i)(j))
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    val scale = math.max(a.flatten.map(math.abs).max, 1e-300)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 64 && off > 1e-12 * scale) {
      var p = 0
      while (p < n - 1) {
        var q = p + 1
        while (q < n) {
          val apq = a(p)(q)
          if (apq != 0.0) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t =
              if (theta >= 0) 1.0 / (theta + math.sqrt(theta * theta + 1.0))
              else 1.0 / (theta - math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            val tau = s / (1.0 + c)
            val app = a(p)(p); val aqq = a(q)(q)
            a(p)(p) = app - t * apq
            a(q)(q) = aqq + t * apq
            a(p)(q) = 0.0; a(q)(p) = 0.0
            var i = 0
            while (i < n) {
              if (i != p && i != q) {
                val aip = a(i)(p); val aiq = a(i)(q)
                a(i)(p) = aip - s * (aiq + tau * aip); a(p)(i) = a(i)(p)
                a(i)(q) = aiq + s * (aip - tau * aiq); a(q)(i) = a(i)(q)
              }
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = vip - s * (viq + tau * vip)
              v(i)(q) = viq + s * (vip - tau * viq)
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      off = 0.0
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) { off += math.abs(a(i)(j)); j += 1 }
        i += 1
      }
      sweep += 1
    }
    val eig = Array.tabulate(n)(k => a(k)(k))
    val vecs = Array.tabulate(n, n)((k, i) => v(i)(k)) // row k = column k of V
    (eig, vecs)
  }

  /** The full symmetric 64×64 scatter matrix as driver longs — ONE
    * [[graft.functions.GramAgg]] pass (the q120 plan), collected
    * (2,080 values, the kmeansFit bounded-collect rule) and mirrored. */
  private def gramCollect(s: SparkSession, d: String, dim: Int)
      : Array[Array[Long]] =
    gramCollectFrame(quantizeInt8(Tables.embeddings(s, d)), dim)

  /** [[gramCollect]] over any (vec_id, q8) frame — fixture-testable. */
  private[graft] def gramCollectFrame(qe: DataFrame, dim: Int)
      : Array[Array[Long]] = {
    import graft.functions.GramAgg.gramUpper
    val g = qe.agg(gramUpper(col("q8"), dim).as("g"))
      .head().getSeq[Long](0)
    val m = Array.ofDim[Long](dim, dim)
    var pos = 0
    var i = 0
    while (i < dim) {
      var j = i
      while (j < dim) { m(i)(j) = g(pos); m(j)(i) = g(pos); pos += 1; j += 1 }
      i += 1
    }
    m
  }

  /** Build-once fingerprint-keyed OPQ/PCA rotation artifact: Gram scan
    * → driver Jacobi on the 64×64 scatter → eigenvectors sorted by
    * eigenvalue desc, sign-fixed (largest-|component| positive — the
    * deterministic convention), quantized to the [[RotScale]] integer
    * grid, persisted as (comp, dim, r) rows. The oracle REPLAYS the
    * projection and the variance report FROM this artifact (Verify
    * substitutes `__Q199_ROT__`): the eigendecomposition itself is
    * inherently iterative — no SQL engine recomputes it — but both
    * engines replay every number derived from R_q exactly, and the spec
    * holds the eigen-invariants (orthonormality on the grid, variance
    * monotonicity, PQ-recall ≥ unrotated). */
  private[graft] def opqRotationDir(s: SparkSession, d: String): String =
    // v2: r16 eigenvalue-allocation comp order (v1 was λ-desc)
    Scratch.artifact(s"opqrot_v2_g${RotScale}_" +
        Tables.sourceFingerprint(d, "embeddings")) { dir =>
      val rows = rotationRowsFor(gramCollect(s, d, 64))
      import s.implicits._
      rows.toDF("comp", "dim", "r")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/rot")
    } + "/rot"

  /** Scatter matrix → eigen-sorted, SUBSPACE-BALANCED, sign-fixed,
    * [[RotScale]]-quantized rotation rows (comp, dim, r) — shared by
    * the artifact builder and the fixture spec.
    *
    * Component ORDER is Ge et al. 2013's non-parametric OPQ
    * initialization, "eigenvalue allocation" (§4.1): eigenvalues desc,
    * each greedily assigned to the PQ subspace (of [[PqM]], capacity
    * [[PqSub]] comps) with the smallest current Σ log λ — balancing the
    * per-subspace variance PRODUCT, the quantity PQ distortion tracks.
    * Plain λ-desc order is the known WORST case for downstream PQ: it
    * concentrates all variance in subspace 1 and leaves the rest noise
    * (the spec's fixture measures exactly that failure). The final comp
    * index is subspace-major (subspace s owns comps s·8..s·8+7, λ desc
    * within), so [[pqTopK]]'s contiguous slices get balanced subspaces
    * with no extra bookkeeping. */
  private[graft] def rotationRowsFor(sMat: Array[Array[Long]])
      : Seq[(Long, Long, Long)] = {
    val dim = sMat.length
    val (eig, vecs) = jacobiEig(sMat.map(_.map(_.toDouble)))
    val byLam = (0 until dim).sortBy(k => (-eig(k), k))
    // eigenvalue allocation: greedy min Σ log λ, capacity PqSub per
    // subspace; ties by subspace index (deterministic)
    val m = math.max(1, dim / PqSub)
    val sums = Array.fill(m)(0.0)
    val buckets = Array.fill(m)(List.empty[Int])
    byLam.foreach { k =>
      val s = (0 until m)
        .filter(buckets(_).size < PqSub)
        .minBy(i => (sums(i), i))
      sums(s) += math.log(math.max(eig(k), 1e-12))
      buckets(s) ::= k
    }
    val order = buckets.toSeq.flatMap(_.reverse) // λ desc within subspace
    order.zipWithIndex.flatMap { case (k, comp) =>
      val vk = vecs(k)
      val mi = (0 until dim).maxBy(i => (math.abs(vk(i)), -i))
      val sgn = if (vk(mi) < 0) -1.0 else 1.0
      (0 until dim).map(i =>
        (comp.toLong, i.toLong, math.round(sgn * vk(i) * RotScale)))
    }
  }

  /** q199 — OPQ/PCA ROTATION (the q120 Gram matrix's consumer, Ge et
    * al. 2013's published step between int8 and PQ): eigendecompose the
    * corpus scatter, quantize the rotation to the [[RotScale]] integer
    * grid, and report per principal component the quantized-basis norm
    * (orthonormality evidence), the EXACT variance captured on the
    * grid — λ̂_c = v_qᵀ S v_q, an exact integer because S is integer
    * and v_q is integer — as var_ppm + cumulative ppm (the "how many
    * components carry 90% of the corpus" table), and the projections
    * of the 5 standard probes (y = R_q·x, exact longs): the projection
    * replay the verdict asked to see bit-for-bit.
    *
    * Exactness: Spark computes λ̂ driver-side in BigInt (the triple
    * product overflows long at decade SFs); DuckDB replays it with
    * HUGEINT intermediates — both exact, both floor-divide to ppm.
    *
    * Scale: ONE Gram scan (the 2,080-long bounded aggregate), driver
    * work O(64³), and a 5-probe × 64-comp projection — corpus cost is
    * exactly one map-side-combined aggregate pass at any size. */
  def opqRotate(s: SparkSession, d: String): DataFrame = {
    val dim = 64
    val rotPath = opqRotationDir(s, d)
    val rot = s.read.parquet(rotPath)
    // driver side: exact λ̂ and ppm report (bounded: 2,080 + 4,096 rows)
    val sMat = gramCollect(s, d, dim)
    val rq = Array.ofDim[Long](dim, dim)
    rot.collect().foreach(r =>
      rq(r.getLong(0).toInt)(r.getLong(1).toInt) = r.getLong(2))
    val lam = (0 until dim).map { c =>
      var acc = BigInt(0)
      var i = 0
      while (i < dim) {
        var j = 0
        while (j < dim) {
          acc += BigInt(rq(c)(i)) * BigInt(sMat(i)(j)) * BigInt(rq(c)(j))
          j += 1
        }
        i += 1
      }
      acc
    }
    val tot = lam.sum.max(BigInt(1))
    val varPpm = lam.map(l => (l * 1000000 / tot).toLong)
    val cum = varPpm.scanLeft(0L)(_ + _).tail
    import s.implicits._
    val report = (0 until dim)
      .map(c => (c.toLong, varPpm(c), cum(c)))
      .toDF("comp", "var_ppm", "cum_var_ppm")
    // engine side: quantized-basis norms + probe projections off the
    // artifact scan (what the oracle replays independently)
    val rvecs = rot.groupBy(col("comp"))
      .agg(array_sort(collect_list(struct(col("dim"), col("r")))).as("p"))
      .select(col("comp"),
        transform(col("p"), x => x.getField("r").cast("double")).as("rvec"))
    val probes = quantizedEmbeddings(s, d).where(col("vec_id") < 5)
      .select(col("vec_id"), col("q8"))
    val proj = rvecs.crossJoin(broadcast(probes))
      .select(col("comp"), col("vec_id"),
        vecDot(col("rvec"), col("q8")).cast("long").as("y"))
      .groupBy(col("comp"))
      .agg(
        max(when(col("vec_id") === 0, col("y"))).as("y_p0"),
        max(when(col("vec_id") === 1, col("y"))).as("y_p1"),
        max(when(col("vec_id") === 2, col("y"))).as("y_p2"),
        max(when(col("vec_id") === 3, col("y"))).as("y_p3"),
        max(when(col("vec_id") === 4, col("y"))).as("y_p4"))
    val norms = rot.groupBy(col("comp"))
      .agg(sum(col("r") * col("r")).as("r_norm2"))
    norms.join(broadcast(report), Seq("comp")).join(proj, Seq("comp"))
      .select(col("comp"), col("r_norm2"), col("var_ppm"),
        col("cum_var_ppm"), col("y_p0"), col("y_p1"), col("y_p2"),
        col("y_p3"), col("y_p4"))
      .orderBy(col("comp"))
  }

  /** Oracle for [[opqRotate]] — Verify substitutes the rotation
    * artifact snapshot for `__Q199_ROT__`; the variance report is
    * recomputed INDEPENDENTLY from DuckDB's own Gram (HUGEINT
    * intermediates), not read back from the engine. */
  val opqRotateSql: String =
    """WITH base AS (
      |  SELECT vec_id, embedding,
      |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
      |  FROM embeddings),
      | q8 AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CASE WHEN ma > 0
      |      THEN floor(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) ELSE 0.0 END) AS q
      |  FROM base),
      | rot AS (
      |  SELECT comp, dim, r FROM read_parquet('__Q199_ROT__/*.parquet')),
      | rn AS (
      |  SELECT comp, CAST(sum(r * r) AS BIGINT) AS r_norm2
      |  FROM rot GROUP BY comp),
      | ex AS (
      |  SELECT vec_id, unnest(q) AS x, generate_subscripts(q, 1) AS i
      |  FROM q8),
      | s AS (
      |  SELECT a.i AS i, b.i AS j, CAST(sum(a.x * b.x) AS BIGINT) AS sv
      |  FROM ex a JOIN ex b ON a.vec_id = b.vec_id GROUP BY 1, 2),
      | lam AS (
      |  SELECT r1.comp,
      |    sum(CAST(r1.r AS HUGEINT) * CAST(s.sv AS HUGEINT)
      |        * CAST(r2.r AS HUGEINT)) AS l
      |  FROM rot r1
      |  JOIN s ON s.i = r1.dim + 1
      |  JOIN rot r2 ON r2.comp = r1.comp AND s.j = r2.dim + 1
      |  GROUP BY r1.comp),
      | tot AS (SELECT greatest(sum(l), 1) AS t FROM lam),
      | vp AS (
      |  SELECT comp, CAST((1000000 * l) // t AS BIGINT) AS var_ppm
      |  FROM lam CROSS JOIN tot),
      | vc AS (
      |  SELECT comp, var_ppm,
      |    CAST(sum(var_ppm) OVER (ORDER BY comp) AS BIGINT) AS cum_var_ppm
      |  FROM vp),
      | rv AS (
      |  SELECT comp, list(CAST(r AS DOUBLE) ORDER BY dim) AS rvec
      |  FROM rot GROUP BY comp),
      | pr AS (SELECT vec_id, q FROM q8 WHERE vec_id < 5),
      | yj AS (
      |  SELECT rv.comp, pr.vec_id,
      |    CAST(list_dot_product(rv.rvec, pr.q) AS BIGINT) AS y
      |  FROM rv CROSS JOIN pr),
      | yp AS (
      |  SELECT comp,
      |    max(CASE WHEN vec_id = 0 THEN y END) AS y_p0,
      |    max(CASE WHEN vec_id = 1 THEN y END) AS y_p1,
      |    max(CASE WHEN vec_id = 2 THEN y END) AS y_p2,
      |    max(CASE WHEN vec_id = 3 THEN y END) AS y_p3,
      |    max(CASE WHEN vec_id = 4 THEN y END) AS y_p4
      |  FROM yj GROUP BY comp)
      |SELECT rn.comp, rn.r_norm2, vc.var_ppm, vc.cum_var_ppm,
      |  yp.y_p0, yp.y_p1, yp.y_p2, yp.y_p3, yp.y_p4
      |FROM rn JOIN vc USING (comp) JOIN yp USING (comp)
      |ORDER BY rn.comp""".stripMargin

  /** The corpus projected onto the quantized rotation — (vec_id,
    * embedding = R_q·x as doubles), the frame [[pqTopK]] re-encodes for
    * the OPQ-vs-PQ recall spec. Engine-side only (no driver data
    * path): rotation rows broadcast, one narrow map per vector. */
  private[graft] def rotatedEmbeddings(s: SparkSession, d: String): DataFrame =
    rotateFrameBy(quantizedEmbeddings(s, d),
      s.read.parquet(opqRotationDir(s, d)))

  /** Project any (vec_id, q8) frame onto a (comp, dim, r) rotation —
    * returns (vec_id, embedding = R_q·x as doubles). */
  private[graft] def rotateFrameBy(qe: DataFrame, rot: DataFrame): DataFrame = {
    val rvecs = rot.groupBy(col("comp"))
      .agg(array_sort(collect_list(struct(col("dim"), col("r")))).as("p"))
      .select(col("comp"),
        transform(col("p"), x => x.getField("r").cast("double")).as("rvec"))
    qe.join(broadcast(rvecs))
      .select(col("vec_id"), col("comp"),
        vecDot(col("rvec"), col("q8")).as("y"))
      .groupBy(col("vec_id"))
      .agg(array_sort(collect_list(struct(col("comp"), col("y")))).as("p"))
      .select(col("vec_id"),
        transform(col("p"), x => x.getField("y")).as("embedding"))
  }

  /** q126 — INCREMENTAL ANN maintenance: the daily-ingest shape of a
    * production vector pipeline (r9 verdict item 7). The EXISTING corpus
    * (vec_id % 10 ≠ 0, ~90%) is indexed once — int8-quantized, routed to
    * its argmax-integer-dot IVF cell — and the index (codes + cell ids)
    * is PERSISTED as a parquet artifact. The NEW batch (vec_id % 10 = 0,
    * ~10%) is then served entirely off that artifact: quantize the batch,
    * route it against the persisted centroids, and search ONLY its target
    * cell of the persisted index. The corpus is never re-encoded,
    * re-assigned, or re-shuffled — the face proves it physically by
    * reading the index back from disk (the q51 artifact-round-trip
    * convention), not from the lineage that built it.
    *
    * All comparisons are exact integer dots of int8 codes (the q43
    * regime: ≤ 64·127² per term, no float ties), so the WHOLE pipeline —
    * quantize, both routings, the persisted index contents, the in-cell
    * top-k — replays verbatim in DuckDB and the gate hash proves the
    * disk round-trip lossless too (int-valued doubles are exact in
    * parquet).
    *
    * Scale: the index build is the one corpus-sized job and it is paid
    * ONCE, not per batch — exactly the property that matters at 100 TB
    * (re-encoding a 100 TB corpus daily is the anti-pattern). Per batch:
    * centroids broadcast to the batch (tiny × small), then the ROUTED
    * BATCH broadcasts into the index join — the index streams from disk,
    * partitioned by cell in production (bucketed write), so a batch
    * touching c cells reads c cells' worth of codes, not the corpus.
    * Window ranks partition by qid (batch-sized, never corpus-sized). */
  def ivfIncremental(s: SparkSession, d: String, k: Int = 3,
      centStride: Int = 0): DataFrame = {
    val base = Scratch.fresh("ivf_q126")
    val qe = quantizedEmbeddings(s, d)
    val existing = qe.where(col("vec_id") % 10 =!= 0)
    // Cell count = |existing| / stride. centStride = 0 (the DEFAULT)
    // computes stride ≈ √n from the corpus itself — the q112
    // self-routing precedent applied to IVF geometry (r10 verdict item
    // 2): cells ≈ √n keeps routing AND in-cell search at n^1.5, IVF's
    // single-node fundamental; on a cluster the cells distribute. A
    // FIXED stride makes cells ∝ n and routing n²/stride — the r10
    // sf10 probe measured that knee (180 s at n = 200k). The gate face
    // alone pins centStride = 100 to match the oracle literal;
    // `tools/IvfIncrProbe` measures the default recipe per SF. */
    val stride =
      if (centStride > 0) centStride
      else math.max(2, math.round(math.sqrt(existing.count().toDouble)).toInt)
    val cent = existing.where(col("vec_id") % stride === 1)
      .select(col("vec_id").as("cent_id"), col("q8").as("cq"))
    // r13: routing is a broadcast-argmax MAP ([[assignCells]]) — the
    // r11/r12 narrow-frame discipline existed to keep the 64-double q8
    // array out of an n×cells argmax (the wide sort spilled ~175 GB at
    // sf10); now there IS no n×cells frame: cent_id is computed in the
    // scan's own project, q8 never leaves the row.
    def route(v: DataFrame): DataFrame =
      assignCells(s, v, cent).select(col("vec_id"), col("q8"), col("cent_id"))
    // the "prior run": build and persist the index artifact,
    // PARTITIONED BY CELL — "a batch touching c cells reads c cells'
    // worth of codes" must be true on disk, not just in prose (r10
    // verdict item 2): the layout is what makes the serve-path prune
    // physical. Repartition BY CELL first: otherwise every write task
    // opens a file in every cell directory (tasks × cells small files —
    // the r11 sf10 probe's write blow-up); this way each cell is one
    // task's one file.
    route(existing).repartition(col("cent_id")).write.mode("overwrite")
      .partitionBy("cent_id").parquet(s"$base/index")
    val index = s.read.parquet(s"$base/index")
    // the "daily batch": routed off the persisted centroids and
    // PERSISTED next to the index — the artifact a serve replica
    // actually reads — then searched against the persisted index only
    route(qe.where(col("vec_id") % 10 === 0))
      .select(col("vec_id").as("qid"), col("q8").as("qv"),
        col("cent_id").as("qcell"))
      .write.mode("overwrite").parquet(s"$base/batch")
    // Touched-cell pruning is DYNAMIC (r11 verdict item 2): the
    // broadcast join on the partition column lets Spark's DPP insert a
    // dynamicpruning subquery on the index scan — reusing the batch
    // broadcast, so the prune costs nothing extra — where the old code
    // collected the touched cells and planned them as isin LITERALS
    // (bounded by √n cells, but ~10⁵ plan literals at n = 10¹⁰ is a
    // real planner/parse tax, and the collect forced a batch cache the
    // r11 advice flagged as never unpersisted). Serving off the batch
    // ARTIFACT rather than the routed plan is what makes DPP reliable:
    // PartitionPruning needs a realistic size estimate on the
    // filtering side (the routed plan's join-product estimate blocked
    // it) and a selective predicate above the scan — the re-asserted
    // batch-membership rule below is total on this artifact (the
    // router wrote only batch rows), so it changes nothing and
    // documents what the artifact may contain. The q126 spec asserts
    // both the dynamicpruning expression in the plan and that the
    // executed scan physically read fewer files than the index holds.
    val batch = s.read.parquet(s"$base/batch")
      .where(col("qid") % 10 === 0)
    val wTop = Window.partitionBy(col("qid"))
      .orderBy(col("dot").desc, col("cid").asc)
    index.join(broadcast(batch), col("cent_id") === col("qcell"))
      .select(col("qid"), col("vec_id").as("cid"),
        vecDot(col("qv"), col("q8")).cast("long").as("dot"))
      .withColumn("rank", row_number().over(wTop))
      .where(col("rank") <= k)
      .orderBy(col("qid"), col("rank"))
  }

  val ivfIncrementalSql: String =
    """WITH base AS (
      |  SELECT vec_id, embedding,
      |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
      |  FROM embeddings),
      | q8 AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CASE WHEN ma > 0
      |      THEN floor(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) ELSE 0.0 END) AS q
      |  FROM base),
      | existing AS (SELECT * FROM q8 WHERE vec_id % 10 <> 0),
      | newb AS (SELECT * FROM q8 WHERE vec_id % 10 = 0),
      | cent AS (SELECT vec_id AS cent_id, q AS cq
      |          FROM existing WHERE vec_id % 100 = 1),
      | idx AS (
      |  SELECT vec_id, q, cent_id FROM (
      |    SELECT e.vec_id, e.q, c.cent_id,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY CAST(list_dot_product(e.q, c.cq) AS BIGINT) DESC,
      |                 c.cent_id ASC) AS rn
      |    FROM existing e CROSS JOIN cent c) WHERE rn = 1),
      | probes AS (
      |  SELECT vec_id AS qid, q AS qv, cent_id AS qcell FROM (
      |    SELECT n.vec_id, n.q, c.cent_id,
      |      row_number() OVER (PARTITION BY n.vec_id
      |        ORDER BY CAST(list_dot_product(n.q, c.cq) AS BIGINT) DESC,
      |                 c.cent_id ASC) AS rn
      |    FROM newb n CROSS JOIN cent c) WHERE rn = 1),
      | dots AS (
      |  SELECT p.qid, i.vec_id AS cid,
      |    CAST(list_dot_product(p.qv, i.q) AS BIGINT) AS dot
      |  FROM idx i JOIN probes p ON i.cent_id = p.qcell),
      | ranked AS (
      |  SELECT qid, cid, dot,
      |    row_number() OVER (PARTITION BY qid ORDER BY dot DESC, cid ASC) AS rank
      |  FROM dots)
      |SELECT qid, cid, dot, rank FROM ranked WHERE rank <= 3
      |ORDER BY qid, rank""".stripMargin

  // ---------------------------------------------------------------------
  // q153: embedding validation audit (the ingest gate before indexing)
  // ---------------------------------------------------------------------

  /** q153 — EMBEDDING VALIDATION AUDIT: the data-quality gate a vector
    * pipeline runs BEFORE building or incrementing an index (q43/q126)
    * — the q130-FK-audit discipline applied to the embedding table. One
    * scan, one row: vector and distinct-id counts (duplicate ids break
    * upsert semantics), dimension uniformity (min/max/#distinct dims —
    * a ragged table breaks every dot kernel), all-zero vectors (cosine
    * is undefined; they route arbitrarily), and non-finite components
    * (one NaN poisons every dot product it touches — the classic broken
    * encoder symptom). All counts integer; DuckDB replays bit-for-bit
    * (the isnan/infinity predicates agree across engines on float →
    * double widening).
    *
    * Scale: ONE scan, map-side-combined conditional aggregates; the two
    * countDistincts plan a bounded Expand (the q129 accounting). */
  def embeddingValidation(s: SparkSession, d: String): DataFrame =
    embeddingValidationOn(Tables.embeddings(s, d))

  /** The audit over any (vec_id, embedding) frame — fixture-testable. */
  private[graft] def embeddingValidationOn(emb: DataFrame): DataFrame = {
    val xd = (x: Column) => x.cast("double")
    val e = emb.select(
      col("vec_id"),
      size(col("embedding")).as("dims"),
      array_max(transform(col("embedding"), x => abs(xd(x)))).as("ma"),
      exists(col("embedding"), x =>
        isnan(xd(x)) || abs(xd(x)) > lit(Double.MaxValue)).as("bad"))
    e.agg(
      count(lit(1)).as("n_vecs"),
      countDistinct(col("vec_id")).as("n_unique_ids"),
      min(col("dims")).cast("long").as("min_dims"),
      max(col("dims")).cast("long").as("max_dims"),
      countDistinct(col("dims")).as("n_dim_values"),
      sum(when(col("ma") === 0.0, 1L).otherwise(0L)).as("n_zero_vecs"),
      sum(when(col("bad"), 1L).otherwise(0L)).as("n_nonfinite_vecs"))
  }

  val embeddingValidationSql: String =
    """SELECT CAST(count(*) AS BIGINT) AS n_vecs,
      |  CAST(count(DISTINCT vec_id) AS BIGINT) AS n_unique_ids,
      |  CAST(min(len(embedding)) AS BIGINT) AS min_dims,
      |  CAST(max(len(embedding)) AS BIGINT) AS max_dims,
      |  CAST(count(DISTINCT len(embedding)) AS BIGINT) AS n_dim_values,
      |  CAST(sum(CASE WHEN list_max(list_transform(embedding,
      |      x -> abs(CAST(x AS DOUBLE)))) = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_zero_vecs,
      |  CAST(sum(CASE WHEN len(list_filter(embedding,
      |      x -> isnan(CAST(x AS DOUBLE)) OR isinf(CAST(x AS DOUBLE)))) > 0
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_nonfinite_vecs
      |FROM embeddings""".stripMargin

  // ---------------------------------------------------------------------
  // q152: IVF index balance audit (cell-occupancy skew + rebalance flags)
  // ---------------------------------------------------------------------

  /** q152 — IVF BALANCE AUDIT: the maintenance question between q126
    * (increment the index) and q144 (is recall still good?): is the
    * index GEOMETRY still balanced? IVF serve cost is driven by the
    * occupancy of the cells a query touches; incremental ingest
    * (q126's daily batches) drifts occupancy until hot cells dominate
    * tail latency and cold cells waste routing work — the production
    * trigger for a cell split/merge or a centroid re-train. One
    * assignment pass (the q43/q126 integer argmax over broadcast
    * centroids, narrow frame), one |cells|-bounded occupancy aggregate,
    * and a single-row report: cell/vector counts, min/max occupancy,
    * max/mean in integer ppm (the skew headline), and how many cells
    * sit above 2× / below ½× the mean — the rebalance work-list size.
    * All integer math; DuckDB replays bit-for-bit.
    *
    * The gate face pins `centStride` = 100 for oracle parity (the q126
    * convention); `centStride` = 0 self-sizes to ≈ √n — the audit runs
    * on whatever geometry the index actually has. */
  def ivfBalanceAudit(s: SparkSession, d: String, centStride: Int = 0): DataFrame = {
    val qe = quantizedEmbeddings(s, d)
    val (_, cent) = strideCells(s, d, qe, centStride)
    // r13: one scan, cent_id computed in-row ([[assignCells]]); the
    // only shuffle left is the |cells|-bounded occupancy aggregate
    val occ = assignCells(s, qe, cent)
      .groupBy(col("cent_id")).agg(count(lit(1)).as("occ"))
    val tot = occ.agg(count(lit(1)).as("n_cells"), sum(col("occ")).as("n_vecs"))
    occ.crossJoin(broadcast(tot))
      .groupBy(col("n_cells"), col("n_vecs"))
      .agg(min(col("occ")).as("min_occ"), max(col("occ")).as("max_occ"),
        sum(when(col("occ") * col("n_cells") > lit(2) * col("n_vecs"), 1L)
          .otherwise(0L)).as("n_cells_over2x"),
        sum(when(lit(2) * col("occ") * col("n_cells") < col("n_vecs"), 1L)
          .otherwise(0L)).as("n_cells_under_half"))
      .select(col("n_cells"), col("n_vecs"), col("min_occ"), col("max_occ"),
        // r12 advice: the naive (1000000 * max_occ * n_cells) div n_vecs
        // wraps Int64 once max_occ·n_cells > 9.2e12 (heavy skew at decade
        // scale). Quotient/remainder split — identical value, since
        // floor(A·c/m) = (A div m)·c + ((A mod m)·c) div m for A =
        // 1000000·max_occ — widens the envelope to n_cells·n_vecs <
        // 9.2e18, i.e. safe to ~4e12 vectors at cells ≈ √n. Beyond that:
        // documented limit, like q150's calibration envelope.
        expr("((1000000 * max_occ) div n_vecs) * n_cells + " +
          "(((1000000 * max_occ) % n_vecs) * n_cells) div n_vecs")
          .as("max_over_mean_ppm"),
        col("n_cells_over2x"), col("n_cells_under_half"))
  }

  /** Oracle for the pinned-stride gate face of [[ivfBalanceAudit]]. */
  val ivfBalanceAuditSql: String =
    """WITH base AS (
      |  SELECT vec_id, embedding,
      |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
      |  FROM embeddings),
      | q8 AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CASE WHEN ma > 0
      |      THEN floor(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) ELSE 0.0 END) AS q
      |  FROM base),
      | cent AS (SELECT vec_id AS cent_id, q AS cq FROM q8 WHERE vec_id % 100 = 1),
      | assign AS (
      |  SELECT vec_id, cent_id FROM (
      |    SELECT e.vec_id, c.cent_id,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY CAST(list_dot_product(e.q, c.cq) AS BIGINT) DESC,
      |                 c.cent_id ASC) AS rn
      |    FROM q8 e CROSS JOIN cent c) WHERE rn = 1),
      | occ AS (SELECT cent_id, CAST(count(*) AS BIGINT) AS occ
      |         FROM assign GROUP BY 1),
      | tot AS (SELECT CAST(count(*) AS BIGINT) AS n_cells,
      |                CAST(sum(occ) AS BIGINT) AS n_vecs FROM occ)
      |SELECT tot.n_cells, tot.n_vecs,
      |  CAST(min(occ) AS BIGINT) AS min_occ,
      |  CAST(max(occ) AS BIGINT) AS max_occ,
      |  CAST((1000000 * max(occ) * tot.n_cells) // tot.n_vecs AS BIGINT)
      |    AS max_over_mean_ppm,
      |  CAST(sum(CASE WHEN occ * tot.n_cells > 2 * tot.n_vecs
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_cells_over2x,
      |  CAST(sum(CASE WHEN 2 * occ * tot.n_cells < tot.n_vecs
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_cells_under_half
      |FROM occ, tot GROUP BY tot.n_cells, tot.n_vecs""".stripMargin

  // ---------------------------------------------------------------------
  // q143: embedding-space drift audit (cell-occupancy TVD)
  // ---------------------------------------------------------------------

  /** q143 — EMBEDDING DRIFT AUDIT: q139's distribution-drift question
    * asked of the EMBEDDING space — did today's corpus move in vector
    * space relative to yesterday's? Every vector routes to its nearest
    * anchor cell (the q43 integer-IVF assignment: quantize to int8,
    * argmax of exact integer anchor dots — no float ties anywhere), and
    * the report is per-cell occupancy of snapshot A (vec_id % 10 ≠ 0,
    * "yesterday") vs snapshot B (vec_id % 10 ≠ 1, "today") in integer
    * ppm shares with the absolute ppm delta — the summable-to-TVD face
    * a retrieval pipeline watches to catch topic shift, crawl-source
    * changes, or a broken encoder BEFORE it degrades an index built on
    * yesterday's geometry.
    *
    * Scale: ONE assignment pass over the corpus (each snapshot is a
    * conditional aggregate of the same assigned rows, not a second
    * scan); anchors broadcast; the report is |cells|-bounded. The
    * anchor grid is a FIXED bounded literal (≤ 64 anchors) — fixed by
    * design, because a drift audit compares runs and a grid that grows
    * with n would break comparability (and re-open the cells ∝ n
    * assignment knee); the oracle replays the identical literal. */
  def embeddingDrift(s: SparkSession, d: String): DataFrame = {
    val qe = quantizedEmbeddings(s, d)
    // FIXED anchor grid (the q43 bounded literal, <= 64 anchors): a
    // drift audit wants the SAME grid on every run - a corpus-sized
    // grid would change the cells as n grows and break cross-run
    // comparability, and it is the cells-prop-to-n scale knee besides.
    // At gate SFs the cap never binds (ids < 2000), so the oracle
    // replays the identical grid.
    val cent = fixedCells(qe)
    val assigned = assignCells(s, qe, cent)
    val cells = assigned.groupBy(col("cent_id")).agg(
      sum(when(col("vec_id") % 10 =!= 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("vec_id") % 10 =!= 1, 1L).otherwise(0L)).as("n_b"))
    val tot = cells.agg(sum(col("n_a")).as("ta"), sum(col("n_b")).as("tb"))
    cells.crossJoin(broadcast(tot))
      .select(col("cent_id"), col("n_a"), col("n_b"),
        expr("(1000000 * n_a) div ta").as("share_a_ppm"),
        expr("(1000000 * n_b) div tb").as("share_b_ppm"),
        abs(expr("(1000000 * n_a) div ta") - expr("(1000000 * n_b) div tb"))
          .as("abs_delta_ppm"))
      .orderBy(col("cent_id"))
  }

  /** Oracle for [[embeddingDrift]]: quantize + integer argmax routing
    * (the q43 CTEs) + the conditional snapshot aggregate, ppm by `//`
    * (positive operands — floor-identical to Spark's `div`). */
  val embeddingDriftSql: String =
    """WITH base AS (
      |  SELECT vec_id, embedding,
      |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
      |  FROM embeddings),
      | q8 AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CASE WHEN ma > 0
      |      THEN floor(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) ELSE 0.0 END) AS q
      |  FROM base),
      | cent AS (SELECT vec_id AS cent_id, q AS cq FROM q8
      |         WHERE vec_id % 100 = 0 AND vec_id < 6400),
      | assigned AS (
      |  SELECT vec_id, cent_id FROM (
      |    SELECT v.vec_id, c.cent_id,
      |      row_number() OVER (PARTITION BY v.vec_id
      |        ORDER BY CAST(list_dot_product(v.q, c.cq) AS BIGINT) DESC,
      |                 c.cent_id ASC) AS rn
      |    FROM q8 v CROSS JOIN cent c) WHERE rn = 1),
      | cells AS (
      |  SELECT cent_id,
      |    CAST(sum(CASE WHEN vec_id % 10 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN vec_id % 10 <> 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      |  FROM assigned GROUP BY cent_id),
      | tot AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta,
      |                CAST(sum(n_b) AS BIGINT) AS tb FROM cells)
      |SELECT cent_id, n_a, n_b,
      |  CAST((1000000 * n_a) // ta AS BIGINT) AS share_a_ppm,
      |  CAST((1000000 * n_b) // tb AS BIGINT) AS share_b_ppm,
      |  CAST(abs((1000000 * n_a) // ta - (1000000 * n_b) // tb) AS BIGINT)
      |    AS abs_delta_ppm
      |FROM cells CROSS JOIN tot
      |ORDER BY cent_id""".stripMargin

  // ---------------------------------------------------------------------
  // q144: ANN recall audit (IVF vs exact ground truth on a probe sample)
  // ---------------------------------------------------------------------

  /** q144 — ANN RECALL AUDIT: the quality gate behind every approximate
    * index — what fraction of the TRUE top-k does the IVF path return?
    * Ground truth is the exact integer-dot top-k (q48's brute plan) for
    * the bounded probe sample; the candidate is the q43 quantized-IVF
    * top-k for the SAME probes, same k, same tie-break (dot desc, cid
    * asc — both sides exact integers, so the boundary is deterministic
    * and the recall is a hash-exact fraction, not a float estimate).
    * Output per probe: truth size, hits, recall in integer ppm. Run it
    * after index maintenance (q126) or a stride change and a recall
    * drop names the regression before production search feels it.
    *
    * Scale: brute-force ground truth is bounded by the PROBE SAMPLE
    * (this is how production audits ANN recall — exact truth for a few
    * hundred probes is one broadcast-join scan, n·|probes| integer
    * dots, map-side top-k via the rank window's partial sort); the IVF
    * side is the index's own serving cost. Nothing quadratic in n. */
  def annRecallAudit(s: SparkSession, d: String, k: Int = 10): DataFrame = {
    val truth = quantizedTopK(s, d, k).select(col("qid"), col("cid"))
    val ann = ivfTopKQuantized(s, d, k).select(col("qid"), col("cid"))
    val hits = truth.join(ann, Seq("qid", "cid"))
      .groupBy(col("qid")).agg(count(lit(1)).as("n_hit"))
    truth.groupBy(col("qid")).agg(count(lit(1)).as("n_truth"))
      .join(hits, Seq("qid"), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .withColumn("recall_ppm", expr("(1000000 * n_hit) div n_truth"))
      .select(col("qid"), col("n_truth"), col("n_hit"), col("recall_ppm"))
      .orderBy(col("qid"))
  }

  /** Oracle for [[annRecallAudit]]: one quantize, the exact brute top-k
    * and the IVF top-k side by side, intersect, ppm by `//`. */
  val annRecallAuditSql: String =
    """WITH base AS (
      |  SELECT vec_id, embedding,
      |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
      |  FROM embeddings),
      | q8 AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CASE WHEN ma > 0
      |      THEN floor(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) ELSE 0.0 END) AS q
      |  FROM base),
      | probes0 AS (SELECT vec_id AS qid, q AS qv FROM q8 WHERE vec_id < 5),
      | truth AS (
      |  SELECT qid, cid FROM (
      |    SELECT p.qid, v.vec_id AS cid,
      |      row_number() OVER (PARTITION BY p.qid
      |        ORDER BY CAST(list_dot_product(p.qv, v.q) AS BIGINT) DESC,
      |                 v.vec_id ASC) AS rank
      |    FROM q8 v JOIN probes0 p ON v.vec_id <> p.qid) WHERE rank <= 10),
      | cent AS (SELECT vec_id AS cent_id, q AS cq FROM q8
      |         WHERE vec_id % 100 = 0 AND vec_id < 6400),
      | assigned AS (
      |  SELECT vec_id, q, cent_id FROM (
      |    SELECT v.vec_id, v.q, c.cent_id,
      |      row_number() OVER (PARTITION BY v.vec_id
      |        ORDER BY CAST(list_dot_product(v.q, c.cq) AS BIGINT) DESC,
      |                 c.cent_id ASC) AS rn
      |    FROM q8 v CROSS JOIN cent c) WHERE rn = 1),
      | iprobes AS (
      |  SELECT vec_id AS qid, q AS qv, cent_id AS qcell
      |  FROM assigned WHERE vec_id < 5),
      | ann AS (
      |  SELECT qid, cid FROM (
      |    SELECT p.qid, a.vec_id AS cid,
      |      row_number() OVER (PARTITION BY p.qid
      |        ORDER BY CAST(list_dot_product(p.qv, a.q) AS BIGINT) DESC,
      |                 a.vec_id ASC) AS rank
      |    FROM assigned a JOIN iprobes p
      |      ON a.cent_id = p.qcell AND a.vec_id <> p.qid) WHERE rank <= 10),
      | hits AS (
      |  SELECT t.qid, count(*) AS n_hit
      |  FROM truth t JOIN ann a ON t.qid = a.qid AND t.cid = a.cid
      |  GROUP BY t.qid),
      | per AS (
      |  SELECT qid, count(*) AS n_truth FROM truth GROUP BY qid)
      |SELECT per.qid, per.n_truth,
      |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
      |  CAST((1000000 * coalesce(h.n_hit, 0)) // per.n_truth AS BIGINT)
      |    AS recall_ppm
      |FROM per LEFT JOIN hits h USING (qid)
      |ORDER BY per.qid""".stripMargin

  // ---------------------------------------------------------------------
  // q156: IVF index coverage / staleness audit
  // ---------------------------------------------------------------------

  /** Per-cell missing counts of `corpus` vectors absent from `index` —
    * the detail face of [[ivfCoverageAudit]], exposed for the spec that
    * deletes one cell's files and must see exactly that cell reported.
    * The anti-join on vec_id is the ONE corpus-sized comparison (ids
    * only — both sides column-pruned to a long); the missing set is
    * then routed through the broadcast-argmax map ([[assignCells]]) to
    * name the stale cells, and the report is |cells|-bounded. */
  private[graft] def ivfCoverageByCell(s: SparkSession, corpus: DataFrame,
      cent: DataFrame, index: DataFrame): DataFrame =
    assignCells(s,
      corpus.join(index.select(col("vec_id")), Seq("vec_id"), "left_anti"),
      cent)
      .groupBy(col("cent_id")).agg(count(lit(1)).as("n_missing"))

  /** q156 — INDEX COVERAGE AUDIT (r12 verdict item 8): the third leg of
    * the index-maintenance triangle. q126 increments the IVF index,
    * q144 audits its recall, q152 its balance — nothing checked
    * COVERAGE: vectors present in the corpus but absent from the
    * persisted index, the hole a crash between the corpus commit and
    * the index commit leaves behind (serving silently returns nothing
    * for them). One id-level anti-join of corpus vs index, the missing
    * set routed to its would-be cells, one summary row: corpus size,
    * indexed size, missing count, how many cells are stale, and the
    * worst cell's deficit — the work-list a repair job needs.
    *
    * The gate face builds the index from the q126 "prior run" slice
    * (vec_id % 10 ≠ 0, cell-partitioned artifact), so the un-indexed
    * daily batch (% 10 = 0) IS the planted coverage hole and the oracle
    * replays it exactly. `indexDir` lets the spec audit a DAMAGED
    * artifact (one cell's files deleted) instead.
    *
    * Scale: the anti-join ships ids only (a long per row, broadcast or
    * shuffle as the planner sizes it); routing the (small) missing set
    * is the n-rows broadcast map; everything else is |cells|-bounded.
    * No corpus re-encode, no fan-out — safe at any corpus size. */
  def ivfCoverageAudit(s: SparkSession, d: String, centStride: Int = 0,
      indexDir: String = ""): DataFrame = {
    val qe = quantizedEmbeddings(s, d)
    val (stride, cent) = strideCells(s, d, qe, centStride)
    val idxPath =
      if (indexDir.nonEmpty) indexDir
      else damagedIndexArtifact(s, d, stride, cent)
    val index = s.read.parquet(idxPath)
    val perCell = ivfCoverageByCell(s, qe, cent, index)
    val tot = qe.agg(count(lit(1)).as("n_corpus"))
    val idxTot = index.agg(count(lit(1)).as("n_indexed"))
    val missAgg = perCell.agg(
      coalesce(sum(col("n_missing")), lit(0L)).as("n_missing"),
      count(lit(1)).as("n_stale_cells"),
      coalesce(max(col("n_missing")), lit(0L)).as("max_cell_missing"))
    tot.crossJoin(idxTot).crossJoin(missAgg)
      .select(col("n_corpus"), col("n_indexed"), col("n_missing"),
        col("n_stale_cells"), col("max_cell_missing"))
  }

  /** Oracle for the pinned-stride gate face of [[ivfCoverageAudit]]:
    * quantize, the stride-100 grid, the % 10 split, row_number argmax
    * routing of the missing slice, integer roll-up. */
  val ivfCoverageAuditSql: String =
    """WITH base AS (
      |  SELECT vec_id, embedding,
      |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
      |  FROM embeddings),
      | q8 AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CASE WHEN ma > 0
      |      THEN floor(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) ELSE 0.0 END) AS q
      |  FROM base),
      | cent AS (SELECT vec_id AS cent_id, q AS cq FROM q8 WHERE vec_id % 100 = 1),
      | missing AS (SELECT vec_id, q FROM q8 WHERE vec_id % 10 = 0),
      | assigned AS (
      |  SELECT vec_id, cent_id FROM (
      |    SELECT m.vec_id, c.cent_id,
      |      row_number() OVER (PARTITION BY m.vec_id
      |        ORDER BY CAST(list_dot_product(m.q, c.cq) AS BIGINT) DESC,
      |                 c.cent_id ASC) AS rn
      |    FROM missing m CROSS JOIN cent c) WHERE rn = 1),
      | per AS (SELECT cent_id, CAST(count(*) AS BIGINT) AS n_missing
      |         FROM assigned GROUP BY 1)
      |SELECT
      |  CAST((SELECT count(*) FROM q8) AS BIGINT) AS n_corpus,
      |  CAST((SELECT count(*) FROM q8 WHERE vec_id % 10 <> 0) AS BIGINT)
      |    AS n_indexed,
      |  CAST(coalesce((SELECT sum(n_missing) FROM per), 0) AS BIGINT)
      |    AS n_missing,
      |  CAST((SELECT count(*) FROM per) AS BIGINT) AS n_stale_cells,
      |  CAST(coalesce((SELECT max(n_missing) FROM per), 0) AS BIGINT)
      |    AS max_cell_missing""".stripMargin

  // ---------------------------------------------------------------------
  // q160: hybrid retrieval (vector ⊕ lexical, reciprocal-rank fusion)
  // ---------------------------------------------------------------------

  /** q160 — HYBRID RETRIEVAL with RECIPROCAL-RANK FUSION: the shape
    * every production retrieval stack converges on — a dense leg (the
    * q48 exact integer-dot top-k over the quantized corpus) and a
    * lexical leg (shared-3-gram overlap counts, the q151 truth
    * machinery turned into a ranker), fused per query by RRF:
    * `Σ 1000000 div (60 + rank)` over the legs that returned the
    * candidate (the standard RRF k=60, scaled to integer ppm so the
    * fusion is engine-exact — no float anywhere: integer dots rank the
    * dense leg, integer intersection counts rank the lexical leg, and
    * the fused score is a sum of integer quotients). A candidate found
    * by only one leg keeps that leg's contribution; ties break to the
    * smaller cid. Documents and embeddings share the id space, so the
    * legs join on (qid, cid).
    *
    * Scale: both legs are probe-bounded — the dense leg is one corpus
    * scan against broadcast probes (n·|probes| integer dots, map-side
    * top-k), the lexical leg one shingle scan against broadcast probe
    * shingles; the fusion joins two ≤ |probes|·k tables. Nothing
    * quadratic, nothing corpus-wide after the scans. */
  def hybridRetrievalRrf(s: SparkSession, d: String, k: Int = 20,
      topK: Int = 10): DataFrame = {
    val (vec, lex) = retrievalLegs(s, d, k)
    val wF = Window.partitionBy(col("qid"))
      .orderBy(col("rrf_ppm").desc, col("cid").asc)
    vec.join(lex, Seq("qid", "cid"), "full_outer")
      .withColumn("rrf_ppm",
        coalesce(expr("1000000 div (60 + rank_vec)"), lit(0)).cast("long") +
          coalesce(expr("1000000 div (60 + rank_lex)"), lit(0)).cast("long"))
      .withColumn("fused_rank", row_number().over(wF))
      .where(col("fused_rank") <= topK)
      .select(col("qid"), col("cid"), col("rank_vec"), col("rank_lex"),
        col("rrf_ppm"), col("fused_rank"))
      .orderBy(col("qid"), col("fused_rank"))
  }

  /** The two ranked legs behind q160/q162 — dense (qid, cid, rank_vec)
    * and lexical (qid, cid, rank_lex), both top-k per probe with the
    * identical deterministic tie-break. */
  private def retrievalLegs(s: SparkSession, d: String, k: Int): (DataFrame, DataFrame) = {
    val qe = quantizedEmbeddings(s, d)
    val probesV = qe.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("q8").as("qv"))
    val wV = Window.partitionBy(col("qid"))
      .orderBy(col("dot").desc, col("cid").asc)
    val vec = qe.join(broadcast(probesV), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"),
        vecDot(col("qv"), col("q8")).cast("long").as("dot"))
      .withColumn("rank_vec", row_number().over(wV))
      .where(col("rank_vec") <= k)
      .select(col("qid"), col("cid"), col("rank_vec"))
    val sh = Dedup.shingles(Tables.documents(s, d))
    val probeSh = sh.where(col("doc_id") < 5)
      .select(col("doc_id").as("qid"), col("shingle"))
    val wL = Window.partitionBy(col("qid"))
      .orderBy(col("ninter").desc, col("cid").asc)
    val lex = sh.join(broadcast(probeSh), "shingle")
      .where(col("doc_id") =!= col("qid"))
      .select(col("qid"), col("doc_id").as("cid"))
      .groupBy(col("qid"), col("cid")).agg(count(lit(1)).as("ninter"))
      .withColumn("rank_lex", row_number().over(wL))
      .where(col("rank_lex") <= k)
      .select(col("qid"), col("cid"), col("rank_lex"))
    (vec, lex)
  }

  /** q162 — FUSION DIAGNOSTICS: the audit behind q160 (the q144/q152
    * stance — every retrieval surface ships with the panel that says
    * whether it is WORKING). Per probe: how much the two legs' top-10s
    * agree (`n_leg_overlap` — low agreement is WHY fusion helps), and
    * where the fused top-10 came from (both legs / dense only / lexical
    * only) — the mix a retrieval team watches to catch a dead leg (a
    * leg contributing 0 across probes is broken or mis-weighted) or a
    * redundant one (overlap ≈ k ⇒ fusion is a no-op). All counts over
    * the same deterministic integer rankings as q160 — hash-exact.
    *
    * Scale: the q160 legs (probe-bounded scans) + aggregates over
    * ≤|probes|·k rows. */
  def fusionDiagnostics(s: SparkSession, d: String): DataFrame = {
    val (vec, lex) = retrievalLegs(s, d, 10)
    val legOverlap = vec.join(lex, Seq("qid", "cid"))
      .groupBy(col("qid")).agg(count(lit(1)).as("n_leg_overlap"))
    val fusedSrc = hybridRetrievalRrf(s, d, 10, 10)
      .groupBy(col("qid")).agg(
        sum(when(col("rank_vec").isNotNull && col("rank_lex").isNotNull, 1L)
          .otherwise(0L)).as("n_fused_both"),
        sum(when(col("rank_vec").isNotNull && col("rank_lex").isNull, 1L)
          .otherwise(0L)).as("n_fused_dense_only"),
        sum(when(col("rank_vec").isNull && col("rank_lex").isNotNull, 1L)
          .otherwise(0L)).as("n_fused_lex_only"))
    fusedSrc.join(legOverlap, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_leg_overlap"), lit(0L)).as("n_leg_overlap"),
        col("n_fused_both"), col("n_fused_dense_only"),
        col("n_fused_lex_only"))
      .orderBy(col("qid"))
  }

  /** Oracle for [[fusionDiagnostics]]: the q160 CTEs at k = 10 plus the
    * membership aggregates. */
  val fusionDiagnosticsSql: String =
    """WITH base AS (
      |  SELECT vec_id, embedding,
      |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
      |  FROM embeddings),
      | q8 AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CASE WHEN ma > 0
      |      THEN floor(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) ELSE 0.0 END) AS q
      |  FROM base),
      | probes AS (SELECT vec_id AS qid, q AS qv FROM q8 WHERE vec_id < 5),
      | vec AS (
      |  SELECT qid, cid, rank_vec FROM (
      |    SELECT p.qid, v.vec_id AS cid,
      |      row_number() OVER (PARTITION BY p.qid
      |        ORDER BY CAST(list_dot_product(p.qv, v.q) AS BIGINT) DESC,
      |                 v.vec_id ASC) AS rank_vec
      |    FROM q8 v JOIN probes p ON v.vec_id <> p.qid)
      |  WHERE rank_vec <= 10),
      | s AS (
      |  SELECT DISTINCT doc_id, shingle FROM (
      |    SELECT doc_id,
      |      word || ' ' || lead(word,1) OVER w || ' ' || lead(word,2) OVER w AS shingle
      |    FROM (
      |      SELECT doc_id,
      |        unnest(regexp_extract_all(text, '[a-z0-9]+')) AS word,
      |        generate_subscripts(regexp_extract_all(text, '[a-z0-9]+'), 1) AS pos
      |      FROM documents)
      |    WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
      |  WHERE shingle IS NOT NULL),
      | psh AS (SELECT doc_id AS qid, shingle FROM s WHERE doc_id < 5),
      | lexc AS (
      |  SELECT p.qid, s2.doc_id AS cid, CAST(count(*) AS BIGINT) AS ninter
      |  FROM s s2 JOIN psh p USING (shingle)
      |  WHERE s2.doc_id <> p.qid GROUP BY 1, 2),
      | lex AS (
      |  SELECT qid, cid, rank_lex FROM (
      |    SELECT qid, cid, row_number() OVER (PARTITION BY qid
      |      ORDER BY ninter DESC, cid ASC) AS rank_lex FROM lexc)
      |  WHERE rank_lex <= 10),
      | fused AS (
      |  SELECT coalesce(v.qid, l.qid) AS qid, coalesce(v.cid, l.cid) AS cid,
      |    v.rank_vec, l.rank_lex,
      |    CAST(coalesce(1000000 // (60 + v.rank_vec), 0)
      |       + coalesce(1000000 // (60 + l.rank_lex), 0) AS BIGINT) AS rrf_ppm
      |  FROM vec v FULL JOIN lex l ON v.qid = l.qid AND v.cid = l.cid),
      | top AS (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY qid
      |      ORDER BY rrf_ppm DESC, cid ASC) AS fused_rank FROM fused)
      |  WHERE fused_rank <= 10),
      | ov AS (
      |  SELECT v.qid, CAST(count(*) AS BIGINT) AS n_leg_overlap
      |  FROM vec v JOIN lex l ON v.qid = l.qid AND v.cid = l.cid
      |  GROUP BY v.qid),
      | mix AS (
      |  SELECT qid,
      |    CAST(sum(CASE WHEN rank_vec IS NOT NULL AND rank_lex IS NOT NULL
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_fused_both,
      |    CAST(sum(CASE WHEN rank_vec IS NOT NULL AND rank_lex IS NULL
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_fused_dense_only,
      |    CAST(sum(CASE WHEN rank_vec IS NULL AND rank_lex IS NOT NULL
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_fused_lex_only
      |  FROM top GROUP BY qid)
      |SELECT mix.qid, CAST(coalesce(ov.n_leg_overlap, 0) AS BIGINT)
      |    AS n_leg_overlap,
      |  mix.n_fused_both, mix.n_fused_dense_only, mix.n_fused_lex_only
      |FROM mix LEFT JOIN ov USING (qid)
      |ORDER BY mix.qid""".stripMargin

  /** Oracle for [[hybridRetrievalRrf]]: quantize + integer-dot rank
    * (the q48 CTEs), shingle-intersection rank, full-outer fusion with
    * the identical integer RRF. */
  val hybridRetrievalRrfSql: String =
    """WITH base AS (
      |  SELECT vec_id, embedding,
      |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
      |  FROM embeddings),
      | q8 AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CASE WHEN ma > 0
      |      THEN floor(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) ELSE 0.0 END) AS q
      |  FROM base),
      | probes AS (SELECT vec_id AS qid, q AS qv FROM q8 WHERE vec_id < 5),
      | vec AS (
      |  SELECT qid, cid, rank_vec FROM (
      |    SELECT p.qid, v.vec_id AS cid,
      |      row_number() OVER (PARTITION BY p.qid
      |        ORDER BY CAST(list_dot_product(p.qv, v.q) AS BIGINT) DESC,
      |                 v.vec_id ASC) AS rank_vec
      |    FROM q8 v JOIN probes p ON v.vec_id <> p.qid)
      |  WHERE rank_vec <= 20),
      | s AS (
      |  SELECT DISTINCT doc_id, shingle FROM (
      |    SELECT doc_id,
      |      word || ' ' || lead(word,1) OVER w || ' ' || lead(word,2) OVER w AS shingle
      |    FROM (
      |      SELECT doc_id,
      |        unnest(regexp_extract_all(text, '[a-z0-9]+')) AS word,
      |        generate_subscripts(regexp_extract_all(text, '[a-z0-9]+'), 1) AS pos
      |      FROM documents)
      |    WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
      |  WHERE shingle IS NOT NULL),
      | psh AS (SELECT doc_id AS qid, shingle FROM s WHERE doc_id < 5),
      | lexc AS (
      |  SELECT p.qid, s2.doc_id AS cid, CAST(count(*) AS BIGINT) AS ninter
      |  FROM s s2 JOIN psh p USING (shingle)
      |  WHERE s2.doc_id <> p.qid GROUP BY 1, 2),
      | lex AS (
      |  SELECT qid, cid, rank_lex FROM (
      |    SELECT qid, cid, row_number() OVER (PARTITION BY qid
      |      ORDER BY ninter DESC, cid ASC) AS rank_lex FROM lexc)
      |  WHERE rank_lex <= 20),
      | fused AS (
      |  SELECT coalesce(v.qid, l.qid) AS qid, coalesce(v.cid, l.cid) AS cid,
      |    v.rank_vec, l.rank_lex,
      |    CAST(coalesce(1000000 // (60 + v.rank_vec), 0)
      |       + coalesce(1000000 // (60 + l.rank_lex), 0) AS BIGINT) AS rrf_ppm
      |  FROM vec v FULL JOIN lex l ON v.qid = l.qid AND v.cid = l.cid),
      | ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY qid
      |    ORDER BY rrf_ppm DESC, cid ASC) AS fused_rank FROM fused)
      |SELECT qid, cid, rank_vec, rank_lex, rrf_ppm, fused_rank
      |FROM ranked WHERE fused_rank <= 10
      |ORDER BY qid, fused_rank""".stripMargin

  // ---------------------------------------------------------------------
  // q159: IVF coverage repair (close the hole q156 reports)
  // ---------------------------------------------------------------------

  /** The pristine "damaged" index fixture q156 audits and q159 repairs:
    * the q126 "prior run" slice (vec_id % 10 ≠ 0) routed and persisted
    * by cell, so the un-indexed daily batch IS the planted coverage
    * hole. Built once per (source content, stride): a fixed path
    * delete-and-rebuilt per invocation let two concurrent sessions on
    * one checkout corrupt each other's index mid-audit, and made every
    * bench pass re-pay the full index build inside the measured query.
    * q156 audits the artifact IN PLACE (read-only); q159 clones it to a
    * private work dir first (repair mutates — see [[ivfCoverageRepair]]). */
  private def damagedIndexArtifact(s: SparkSession, d: String, stride: Int,
      cent: DataFrame): String =
    Scratch.artifact(
        s"ivfdmg_${stride}_${Tables.sourceFingerprint(d, "embeddings")}") { dir =>
      // the q126 layout discipline: repartition BY CELL before the
      // partitioned write (one file per cell, not tasks × cells)
      assignCells(s, quantizedEmbeddings(s, d).where(col("vec_id") % 10 =!= 0), cent)
        .select(col("vec_id"), col("cent_id"))
        .repartition(col("cent_id")).write.mode("overwrite")
        .partitionBy("cent_id").parquet(s"$dir/index")
    } + "/index"

  /** q159 — COVERAGE REPAIR: the APPLY step behind [[ivfCoverageAudit]]
    * (the q155/q158 stance for the index family — an audit that only
    * reports is half an operator). Routes EXACTLY the missing vectors
    * (the q156 anti-join) through the broadcast-argmax map and APPENDS
    * them to the persisted index under their cells — `partitionBy`
    * append touches only the stale cells' directories, never rewrites
    * healthy cells — then re-audits off the repaired artifact. The
    * output row is the repair receipt a maintenance job logs:
    * missing-before, rows repaired, cells touched, missing-after
    * (re-measured from disk, not assumed), and the repaired index size.
    *
    * Scale: the repair writes |missing| rows (a crashed batch, not a
    * corpus) into |touched| cell files; the before/after audits are the
    * q156 id-only anti-joins. At 100 TB this is the nightly
    * crash-recovery job: cost ∝ the hole, not the index. */
  def ivfCoverageRepair(s: SparkSession, d: String, centStride: Int = 0,
      workDir: String = ""): DataFrame = {
    val qe = quantizedEmbeddings(s, d)
    val (stride, cent) = strideCells(s, d, qe, centStride)
    // the damaged state (gate face): the shared pristine fixture COPIED
    // to a private work dir — repair mutates, so each invocation gets
    // its own clone (concurrency-safe) while the corpus-sized build is
    // paid once per source content, outside the measured repair (r13
    // advice on the fixed delete-and-rebuild paths)
    val pristine = damagedIndexArtifact(s, d, stride, cent)
    // workDir: spec seam — a caller-owned clone location that is NOT
    // auto-deleted, so tests can inspect the repaired files on disk
    def repair(work: String): DataFrame = {
      val idx = s"$work/index"
      Scratch.cloneDir(pristine, idx)
      // EAGER legs, one index GENERATION per executed plan (measured
      // hazard: two scans of the same path canonicalize equal, so a plan
      // holding both the pre- and post-append read gets the post-leg's
      // exchange REUSED from the pre-leg — n_missing_after came back as
      // the before value while a non-reusable count in the same plan saw
      // the appended files). Each leg collects a bounded scalar; the
      // receipt row is assembled from the measured values.
      //
      // r18 (§2.6 overlap independent jobs, the q166 pattern): the five
      // sequential driver actions pair up — the before-audit and the
      // routed-hole count both read the PRE-append index (independent),
      // and the after-size count and after-audit both read the
      // POST-append index (independent). Each pair now runs from 2
      // driver threads so the second job's tasks back-fill the first's
      // straggler tail; both legs of a pair complete before the append
      // mutates the artifact (each action lists the index at its own
      // start, so the barrier keeps the before-legs' listings
      // pre-append). Values, legs, and the off-disk re-audit are
      // unchanged.
      // the repair: route ONLY the hole, append under its cells. The
      // routed set is persisted and COUNTED BEFORE the append (r13
      // advice): counting after relied on the earlier read having
      // eagerly snapshotted the file listing — true of
      // InMemoryFileIndex today, but a listing-laziness change would
      // silently double-count the appended rows into the anti-join.
      val missing = qe.join(s.read.parquet(idx).select(col("vec_id")),
        Seq("vec_id"), "left_anti")
      val routed = assignCells(s, missing, cent)
        .select(col("vec_id"), col("cent_id")).persist()
      val Seq(Seq(nMissingBefore, nCellsTouched), Seq(nRepaired)) =
        Pipelines.runConcurrently(s, 2)(Seq(
          () => {
            s.sparkContext.setJobDescription("q159: before-audit")
            val r = ivfCoverageByCell(s, qe, cent, s.read.parquet(idx))
              .agg(coalesce(sum(col("n_missing")), lit(0L)), count(lit(1)))
              .collect().head
            Seq(r.getLong(0), r.getLong(1))
          },
          () => {
            s.sparkContext.setJobDescription("q159: route the hole")
            Seq(routed.count())
          }))
      routed.repartition(col("cent_id")).write.mode("append")
        .partitionBy("cent_id").parquet(idx)
      routed.unpersist()
      // re-audit OFF DISK: fresh read, fresh listing — the receipt states
      // what the artifact now holds, not what the repair assumes
      val Seq(nIndexedAfter, nMissingAfter) = Pipelines.runConcurrently(s, 2)(Seq(
        () => {
          s.sparkContext.setJobDescription("q159: after-size")
          s.read.parquet(idx).count()
        },
        () => {
          s.sparkContext.setJobDescription("q159: after-audit")
          ivfCoverageByCell(s, qe, cent, s.read.parquet(idx))
            .agg(coalesce(sum(col("n_missing")), lit(0L))).collect().head.getLong(0)
        }))
      s.range(1).select(
        lit(nMissingBefore).as("n_missing_before"),
        lit(nRepaired).as("n_repaired"),
        lit(nCellsTouched).as("n_cells_touched"),
        lit(nMissingAfter).as("n_missing_after"),
        lit(nIndexedAfter).as("n_indexed_after"))
    }
    if (workDir.nonEmpty) repair(workDir) else Scratch.withWorkDir("ivfq159")(repair)
  }

  /** Oracle for the pinned-stride gate face of [[ivfCoverageRepair]]:
    * the q156 routing CTEs; after a correct repair the after-audit is
    * identically zero and the index holds the whole corpus. */
  val ivfCoverageRepairSql: String =
    """WITH base AS (
      |  SELECT vec_id, embedding,
      |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
      |  FROM embeddings),
      | q8 AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CASE WHEN ma > 0
      |      THEN floor(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) ELSE 0.0 END) AS q
      |  FROM base),
      | cent AS (SELECT vec_id AS cent_id, q AS cq FROM q8 WHERE vec_id % 100 = 1),
      | missing AS (SELECT vec_id, q FROM q8 WHERE vec_id % 10 = 0),
      | assigned AS (
      |  SELECT vec_id, cent_id FROM (
      |    SELECT m.vec_id, c.cent_id,
      |      row_number() OVER (PARTITION BY m.vec_id
      |        ORDER BY CAST(list_dot_product(m.q, c.cq) AS BIGINT) DESC,
      |                 c.cent_id ASC) AS rn
      |    FROM missing m CROSS JOIN cent c) WHERE rn = 1)
      |SELECT
      |  CAST((SELECT count(*) FROM missing) AS BIGINT) AS n_missing_before,
      |  CAST((SELECT count(*) FROM missing) AS BIGINT) AS n_repaired,
      |  CAST((SELECT count(DISTINCT cent_id) FROM assigned) AS BIGINT)
      |    AS n_cells_touched,
      |  CAST(0 AS BIGINT) AS n_missing_after,
      |  CAST((SELECT count(*) FROM q8) AS BIGINT) AS n_indexed_after""".stripMargin

  // ---------------------------------------------------------------------
  // q165: IVF index compaction (merge accreted batch generations)
  // ---------------------------------------------------------------------

  /** Count of parquet data files under a dir (recursive) — the physical
    * read-amplification number a compaction receipt reports. */
  private[graft] def parquetFileCount(dir: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isFile) { if (f.getName.endsWith(".parquet")) 1L else 0L }
      else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
    walk(new java.io.File(dir))
  }

  /** Rewrite a `batch=N/cent_id=M` accreted index into ONE generation —
    * the missing maintenance verb behind [[ivfCompactGate]]; exposed for
    * the spec, which compacts a real q161-shaped stream layout and
    * asserts file count = |cells| and id-set equality. Returns the
    * compacted path (under `workDir`). */
  private[graft] def ivfCompactDir(s: SparkSession, idxDir: String,
      outDir: String): Unit = {
    // one exchange keyed by cell, then the partitioned write lands each
    // cell as ONE file (the q126 layout rule) — generation column gone
    s.read.parquet(idxDir).select(col("vec_id"), col("cent_id"))
      .repartition(col("cent_id")).write.mode("overwrite")
      .partitionBy("cent_id").parquet(outDir)
  }

  /** q165 — INDEX COMPACTION (r13 verdict item 3): the q161 stream
    * accretes one `batch=N` generation per wave FOREVER — read
    * amplification grows with batch count (every serve/audit scan opens
    * |generations| files per cell) and nothing rewrote the layout. This
    * operator closes the index family's last lifecycle hole (increment
    * q126, recall q144, balance q152, coverage q156, repair q159,
    * stream q161): rewrite every `batch=N/cent_id=M` generation into ONE
    * generation per cell and emit the receipt a maintenance job logs — rows conserved
    * (before = after, the invariant that makes compaction safe to
    * schedule), generations folded, cells, physical files before/after
    * (the read-amplification win), and the q156 zero-missing re-audit
    * measured OFF the compacted artifact, not assumed.
    *
    * The gate face builds the accreted state the q161 stream leaves
    * behind — existing corpus at `batch=-1` plus three waves at
    * `batch=0..2`, each generation cell-partitioned — then compacts it.
    * File counts are deterministic by the layout discipline: each
    * generation's repartition-by-cell write lands exactly one file per
    * touched cell, so files_before = Σ_gen |cells touched| and
    * files_after = |cells| — which is why the oracle can replay even
    * the PHYSICAL numbers from pure relational algebra.
    *
    * Scale: compaction is one shuffle of the index (ids + cell — narrow
    * rows, never the vectors at this grain) keyed by cell; at 100 TB it
    * runs per-cell-range as a background job, and the receipt's
    * rows-conserved + zero-missing checks are the promotion gate before
    * the compacted generation replaces the accreted one. */
  /** The FULL corpus routed + persisted by cell — the pristine serving
    * index mutating faces (q175's streaming erasure) clone via
    * [[Scratch.cloneDir]]. Built once per source content. */
  private[graft] def fullIndexArtifact(s: SparkSession, d: String,
      cent: DataFrame): String =
    Scratch.artifact(s"ivffull_${Tables.sourceFingerprint(d, "embeddings")}") { dir =>
      assignCells(s, quantizedEmbeddings(s, d), cent)
        .select(col("vec_id"), col("cent_id"))
        .repartition(col("cent_id")).write.mode("overwrite")
        .partitionBy("cent_id").parquet(s"$dir/index")
    } + "/index"

  /** The accreted `batch=N/cent_id=M` state q161 leaves behind —
    * existing corpus at batch=-1, three waves at batch=0..2 — as a
    * build-once artifact (read-only; q165 compacts FROM it into a fresh
    * directory). */
  private def accretedIndexArtifact(s: SparkSession, d: String,
      cent: DataFrame): String =
    Scratch.artifact(s"ivfaccr_${Tables.sourceFingerprint(d, "embeddings")}") { dir =>
      val qe = quantizedEmbeddings(s, d)
      def writeGen(rows: DataFrame, gen: Int): Unit =
        assignCells(s, rows, cent).select(col("vec_id"), col("cent_id"))
          .repartition(col("cent_id")).write.mode("overwrite")
          .partitionBy("cent_id").parquet(s"$dir/index/batch=$gen")
      writeGen(qe.where(col("vec_id") % 10 =!= 0), -1)
      (0 until 3).foreach(i =>
        writeGen(qe.where(col("vec_id") % 10 === 0 &&
          pmod(col("vec_id"), lit(3)) === i), i))
    } + "/index"

  def ivfCompactGate(s: SparkSession, d: String): DataFrame = {
    val qe = quantizedEmbeddings(s, d)
    val cent = fixedCells(qe)
    Scratch.withWorkDir("ivfq165") { work =>
      // the accreted state q161 leaves behind, as a READ-ONLY
      // fingerprint-keyed artifact (r14 — compaction never mutates its
      // input, it writes a new generation elsewhere, so unlike
      // q159/q166/q167 no per-invocation clone is needed; the r13-shape
      // build re-routed and re-wrote four generations inside every
      // measured compaction)
      val idx = accretedIndexArtifact(s, d, cent)
      // receipt legs, each eager (one path generation per executed plan)
      val before = s.read.parquet(idx)
      val beforeAgg = before.agg(count(lit(1)),
        countDistinct(col("batch")), countDistinct(col("cent_id"))).collect().head
      val nRowsBefore = beforeAgg.getLong(0)
      val nGenerations = beforeAgg.getLong(1)
      val nCells = beforeAgg.getLong(2)
      val nFilesBefore = parquetFileCount(idx)
      val compacted = s"$work/compacted"
      ivfCompactDir(s, idx, compacted)
      // re-audit OFF DISK: fresh read of the compacted artifact
      val after = s.read.parquet(compacted)
      val afterAgg = after.agg(count(lit(1)),
        countDistinct(col("cent_id"))).collect().head
      val nRowsAfter = afterAgg.getLong(0)
      val nCellsAfter = afterAgg.getLong(1)
      val nFilesAfter = parquetFileCount(compacted)
      val nMissingAfter = qe.select(col("vec_id"))
        .join(after.select(col("vec_id")), Seq("vec_id"), "left_anti").count()
      s.range(1).select(
        lit(nRowsBefore).as("n_rows_before"),
        lit(nRowsAfter).as("n_rows_after"),
        lit(nGenerations).as("n_generations_before"),
        lit(nCells).as("n_cells"),
        lit(nCellsAfter).as("n_cells_after"),
        lit(nFilesBefore).as("n_files_before"),
        lit(nFilesAfter).as("n_files_after"),
        lit(nMissingAfter).as("n_missing_after"))
    }
  }

  /** Oracle for [[ivfCompactGate]]: the q43 routing CTEs; generations
    * replay as the `% 10` / `pmod 3` slices, physical file counts
    * replay from the one-file-per-(generation, touched-cell) layout
    * discipline. */
  val ivfCompactGateSql: String =
    """WITH base AS (
      |  SELECT vec_id, embedding,
      |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
      |  FROM embeddings),
      | q8 AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CASE WHEN ma > 0
      |      THEN floor(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) ELSE 0.0 END) AS q
      |  FROM base),
      | cent AS (SELECT vec_id AS cent_id, q AS cq FROM q8
      |         WHERE vec_id % 100 = 0 AND vec_id < 6400),
      | assigned AS (
      |  SELECT vec_id, cent_id FROM (
      |    SELECT v.vec_id, c.cent_id,
      |      row_number() OVER (PARTITION BY v.vec_id
      |        ORDER BY CAST(list_dot_product(v.q, c.cq) AS BIGINT) DESC,
      |                 c.cent_id ASC) AS rn
      |    FROM q8 v CROSS JOIN cent c) WHERE rn = 1),
      | gens AS (
      |  SELECT vec_id, cent_id,
      |    CASE WHEN vec_id % 10 <> 0 THEN -1
      |         ELSE CAST(vec_id % 3 AS INT) END AS gen
      |  FROM assigned),
      | files_b AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n FROM (
      |    SELECT DISTINCT gen, cent_id FROM gens))
      |SELECT
      |  CAST((SELECT count(*) FROM gens) AS BIGINT) AS n_rows_before,
      |  CAST((SELECT count(*) FROM gens) AS BIGINT) AS n_rows_after,
      |  CAST((SELECT count(DISTINCT gen) FROM gens) AS BIGINT)
      |    AS n_generations_before,
      |  CAST((SELECT count(DISTINCT cent_id) FROM gens) AS BIGINT) AS n_cells,
      |  CAST((SELECT count(DISTINCT cent_id) FROM gens) AS BIGINT)
      |    AS n_cells_after,
      |  CAST((SELECT n FROM files_b) AS BIGINT) AS n_files_before,
      |  CAST((SELECT count(DISTINCT cent_id) FROM gens) AS BIGINT)
      |    AS n_files_after,
      |  CAST(0 AS BIGINT) AS n_missing_after""".stripMargin

  // ---------------------------------------------------------------------
  // q166: vector-family erasure (right-to-be-forgotten for the index tier)
  // ---------------------------------------------------------------------

  /** Run `body` with dynamic partition-overwrite mode, restoring the
    * session's prior setting — the erasure writes must rewrite ONLY the
    * partitions present in the surviving data (q159's touch-only-stale
    * discipline), never truncate the whole table. */
  private[graft] def withDynamicOverwrite[T](s: SparkSession)(body: => T): T = {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prior = s.conf.getOption(key)
    s.conf.set(key, "dynamic")
    try body
    finally prior match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  /** Erase every row matching `victim` from a partition-laid-out parquet
    * store, rewriting ONLY the affected partitions: survivors of those
    * partitions are dynamic-overwritten in place; a partition whose
    * every row was erased (dynamic overwrite cannot express "now
    * empty") has its directory deleted explicitly. Returns
    * (rows erased, partitions touched).
    *
    * r17 (§1.2 job-count, not data): the old form ran FOUR driver
    * actions per store (victim-parts distinct, victim count, survivor
    * write, survivor-parts distinct) — one per-partition aggregate now
    * yields victim AND survivor counts in a single scan, so each store
    * is two jobs: stats + the survivor rewrite. Dynamic overwrite is a
    * per-write option (not the session conf), making the function safe
    * to run for several stores concurrently from driver threads
    * (guide §2.6). */
  private[graft] def eraseFromStore(s: SparkSession, path: String,
      partCol: String, victim: Column): (Long, Long) = {
    val store = s.read.parquet(path)
    // one scan: per-partition victim/survivor occupancy
    val stats = store.groupBy(col(partCol))
      .agg(count(when(victim, 1)).as("nvic"),
        count(when(!victim, 1)).as("nsur"))
      .collect()
    val parts = stats.filter(_.getLong(1) > 0).map(_.get(0))
    val nErased = stats.map(_.getLong(1)).sum
    if (parts.nonEmpty) {
      val survivors = store
        .where(col(partCol).isin(parts.toIndexedSeq: _*) && !victim)
      survivors.repartition(col(partCol)).write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partCol).parquet(path)
      stats.filter(r => r.getLong(1) > 0 && r.getLong(2) == 0L)
        .map(_.get(0)).foreach(p =>
          scala.reflect.io.Path(
            new java.io.File(s"$path/$partCol=$p")).deleteRecursively())
    }
    (nErased, parts.length.toLong)
  }

  /** The pristine persisted-state fixture q166 erases from — the three
    * artifact tiers a production vector pipeline accumulates: the
    * quantized store (bucket-partitioned by `pmod(vec_id, 16)`), the
    * full-corpus IVF index (cell-partitioned), and the dedup signature
    * store (bucket-partitioned by doc). Built once; each q166
    * invocation works on a clone. */
  private def erasureFixture(s: SparkSession, d: String, cent: DataFrame): String =
    Scratch.artifact(s"erasefix_${Tables.sourceFingerprint(d, "embeddings")}" +
        s"_${Tables.sourceFingerprint(d, "documents")}") { dir =>
      val qe = quantizedEmbeddings(s, d)
      qe.withColumn("bkt", pmod(col("vec_id"), lit(16)).cast("int"))
        .repartition(col("bkt")).write.mode("overwrite")
        .partitionBy("bkt").parquet(s"$dir/store")
      assignCells(s, qe, cent).select(col("vec_id"), col("cent_id"))
        .repartition(col("cent_id")).write.mode("overwrite")
        .partitionBy("cent_id").parquet(s"$dir/index")
      Dedup.minhashSigShared(s, d)
        .withColumn("bkt", pmod(col("doc_id"), lit(16)).cast("int"))
        .repartition(col("bkt")).write.mode("overwrite")
        .partitionBy("bkt").parquet(s"$dir/sig")
    }

  /** q167 — IVF REBALANCE (hot-cell split): the APPLY step behind
    * q152's balance audit (the q159-repairs-q156 / q155-applies-q154
    * stance: an audit that only reports is half an operator). q152
    * names the cells whose occupancy drives tail latency; this splits
    * them: every cell whose occupancy exceeds `thresholdPpm` of the
    * mean (q152's integer ppm formula) is replaced by TWO sub-cells —
    * seeds are the cell's min- and max-id members (deterministic, no
    * training), sub-cell ids are `-(2h+1)` / `-(2h+2)` of the hot cell
    * id h (negative — provably disjoint from every existing cell id,
    * so a seed that happens to be another grid vector can never
    * collide), and ONLY the hot cells' members re-route (integer dot
    * vs the two seeds, ties to the min-id seed). The write touches
    * exactly the split cells: old dir deleted, two sub-dirs written;
    * every healthy cell's files are never opened. Receipt off disk:
    * cells before/split/after, rows conserved, and max occupancy
    * before/after — the tail-latency number a split exists to cut
    * (max_occ can only fall or hold: sub-cells are subsets, healthy
    * cells untouched; the spec pins that invariant).
    *
    * The production threshold is 2× the mean (q152's over2x line); the
    * gate face pins 1.1× so the split path is EXERCISED at gate SF
    * (the corpus's natural skew tops out at ~1.16× there — a 2× gate
    * face would split nothing and prove nothing).
    *
    * Scale: occupancy is a |cells|-bounded aggregate off the persisted
    * index; re-routing is |hot members| rows against ONE |hot|-row
    * broadcast seed table in a single pass (3 jobs total regardless of
    * how many cells split); cost ∝ the hot cells, never the index — the
    * same cost model as q159's repair and q166's erasure. */
  def ivfRebalanceSplit(s: SparkSession, d: String,
      thresholdPpm: Long = 2000000L): DataFrame = {
    val qe = quantizedEmbeddings(s, d)
    val cent = fixedCells(qe)
    val fix = erasureFixture(s, d, cent)
    Scratch.withWorkDir("ivfq167") { work =>
      val idx = s"$work/index"
      Scratch.cloneDir(s"$fix/index", idx)
      // occupancy map off disk; hot = q152's ppm formula vs threshold
      val occ = s.read.parquet(idx).groupBy(col("cent_id"))
        .agg(count(lit(1)).as("occ"))
      val tot = occ.agg(count(lit(1)).as("n_cells"), sum(col("occ")).as("n_vecs"))
        .collect().head
      val nCellsBefore = tot.getLong(0)
      val nVecs = tot.getLong(1)
      // cent_id is a partition-DISCOVERED column (int-typed for
      // int-ranged values) — widen through Number, not getLong
      val occRows = occ.collect()
        .map(r => (r.getAs[Number](0).longValue(), r.getLong(1)))
      val maxOccBefore = occRows.map(_._2).max
      def overMeanPpm(o: Long): Long =
        (1000000L * o) / nVecs * nCellsBefore +
          (1000000L * o) % nVecs * nCellsBefore / nVecs
      val hot = occRows.filter(c => overMeanPpm(c._2) > thresholdPpm)
        .map(_._1).sorted
      // split ALL hot cells in ONE pass (r14 rework of the first-cut
      // per-cell loop, which ran 3 jobs + a partitioned write PER hot
      // cell — at |hot| cells that's O(|hot|) sequential job launches;
      // this shape is 3 jobs TOTAL regardless of |hot|): seed table =
      // one |hot|-bounded aggregate (min/max member id per cell) joined
      // to its two seed vectors; routing = one broadcast join of the
      // seed table into the hot members. Only hot cells' dirs are ever
      // touched; the routing rule (integer dot, ties to the min-id
      // seed) is unchanged — receipt values identical.
      if (hot.nonEmpty) {
        val members = s.read.parquet(idx)
          .where(col("cent_id").isin(hot: _*))
          .select(col("cent_id").cast("long").as("h"), col("vec_id"))
          .join(qe, "vec_id")
          .select(col("h"), col("vec_id"), col("q8"))
        val seeds = members.groupBy(col("h"))
          .agg(min(col("vec_id")).as("lo"), max(col("vec_id")).as("hi"))
          .join(qe.select(col("vec_id").as("lo"), col("q8").as("lovec")), "lo")
          .join(qe.select(col("vec_id").as("hi"), col("q8").as("hivec")), "hi")
          .select(col("h"), col("lovec"), col("hivec"))
        val routed = members.join(broadcast(seeds), Seq("h"))
          .select(col("vec_id"),
            when(vecDot(col("q8"), col("lovec")).cast("long") >=
              vecDot(col("q8"), col("hivec")).cast("long"),
              -(lit(2L) * col("h") + 1L))
              .otherwise(-(lit(2L) * col("h") + 2L)).as("cent_id"))
          .persist()
        routed.count() // materialize BEFORE mutating the dirs it reads
        hot.foreach(h => scala.reflect.io.Path(
          new java.io.File(s"$idx/cent_id=$h")).deleteRecursively())
        withDynamicOverwrite(s) {
          routed.repartition(col("cent_id")).write.mode("overwrite")
            .partitionBy("cent_id").parquet(idx)
        }
        routed.unpersist()
        ()
      }
      // re-audit OFF DISK: fresh read of the rebalanced index
      val after = s.read.parquet(idx).groupBy(col("cent_id"))
        .agg(count(lit(1)).as("occ"))
        .agg(count(lit(1)).as("nc"), sum(col("occ")).as("nv"),
          max(col("occ")).as("mx")).collect().head
      s.range(1).select(
        lit(nCellsBefore).as("n_cells_before"),
        lit(hot.length.toLong).as("n_cells_split"),
        lit(after.getLong(0)).as("n_cells_after"),
        lit(after.getLong(1)).as("n_vecs_after"),
        lit(maxOccBefore).as("max_occ_before"),
        lit(after.getLong(2)).as("max_occ_after"))
    }
  }

  /** Oracle for the gate face of [[ivfRebalanceSplit]] (threshold
    * pinned at 1.1× mean): q43 routing, q152's ppm inequality names the
    * hot cells, min/max-id seeds, two-seed integer-dot re-route. */
  val ivfRebalanceSplitSql: String =
    """WITH base AS (
      |  SELECT vec_id, embedding,
      |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
      |  FROM embeddings),
      | q8 AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CASE WHEN ma > 0
      |      THEN floor(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) ELSE 0.0 END) AS q
      |  FROM base),
      | cent AS (SELECT vec_id AS cent_id, q AS cq FROM q8
      |         WHERE vec_id % 100 = 0 AND vec_id < 6400),
      | assigned AS (
      |  SELECT vec_id, q, cent_id FROM (
      |    SELECT v.vec_id, v.q, c.cent_id,
      |      row_number() OVER (PARTITION BY v.vec_id
      |        ORDER BY CAST(list_dot_product(v.q, c.cq) AS BIGINT) DESC,
      |                 c.cent_id ASC) AS rn
      |    FROM q8 v CROSS JOIN cent c) WHERE rn = 1),
      | occ AS (SELECT cent_id, CAST(count(*) AS BIGINT) AS occ
      |         FROM assigned GROUP BY 1),
      | tot AS (SELECT CAST(count(*) AS BIGINT) AS n_cells,
      |                CAST(sum(occ) AS BIGINT) AS n_vecs FROM occ),
      | hot AS (
      |  SELECT cent_id FROM occ, tot
      |  WHERE (1000000 * occ) // n_vecs * n_cells
      |      + (1000000 * occ) % n_vecs * n_cells // n_vecs > 1100000),
      | seeds AS (
      |  SELECT a.cent_id AS h, min(a.vec_id) AS lo, max(a.vec_id) AS hi
      |  FROM assigned a JOIN hot ON a.cent_id = hot.cent_id
      |  GROUP BY a.cent_id),
      | rerouted AS (
      |  SELECT a.vec_id,
      |    CASE WHEN CAST(list_dot_product(a.q, ql.q) AS BIGINT)
      |           >= CAST(list_dot_product(a.q, qh.q) AS BIGINT)
      |         THEN -(2 * s.h + 1) ELSE -(2 * s.h + 2) END AS cent_id
      |  FROM assigned a
      |  JOIN seeds s ON a.cent_id = s.h
      |  JOIN q8 ql ON ql.vec_id = s.lo
      |  JOIN q8 qh ON qh.vec_id = s.hi),
      | final AS (
      |  SELECT vec_id, cent_id FROM assigned
      |  WHERE cent_id NOT IN (SELECT h FROM seeds)
      |  UNION ALL SELECT vec_id, cent_id FROM rerouted),
      | occ2 AS (SELECT cent_id, CAST(count(*) AS BIGINT) AS occ
      |          FROM final GROUP BY 1)
      |SELECT
      |  (SELECT n_cells FROM tot) AS n_cells_before,
      |  CAST((SELECT count(*) FROM hot) AS BIGINT) AS n_cells_split,
      |  CAST((SELECT count(*) FROM occ2) AS BIGINT) AS n_cells_after,
      |  CAST((SELECT sum(occ) FROM occ2) AS BIGINT) AS n_vecs_after,
      |  CAST((SELECT max(occ) FROM occ) AS BIGINT) AS max_occ_before,
      |  CAST((SELECT max(occ) FROM occ2) AS BIGINT) AS max_occ_after""".stripMargin

  /** The two independently-built half-indexes q173 merges: the even
    * corpus half (vec_id % 2 = 0) and the odd half, each routed against
    * the SAME fixed anchor grid and persisted cell-partitioned — the
    * state two parallel index-build jobs (two ingest pipelines, two
    * regions) leave behind. Built once per source content, read-only. */
  private def halfIndexArtifact(s: SparkSession, d: String,
      cent: DataFrame): String =
    Scratch.artifact(s"ivfhalf_${Tables.sourceFingerprint(d, "embeddings")}") { dir =>
      val qe = quantizedEmbeddings(s, d)
      Seq(("a", 0), ("b", 1)).foreach { case (name, par) =>
        assignCells(s, qe.where(col("vec_id") % 2 === par), cent)
          .select(col("vec_id"), col("cent_id"))
          .repartition(col("cent_id")).write.mode("overwrite")
          .partitionBy("cent_id").parquet(s"$dir/$name")
      }
    }

  /** q173 — IVF INDEX MERGE: fold two independently-built indexes over
    * disjoint corpus halves (same anchor grid — two parallel build jobs,
    * two ingest regions, a backfill next to a live index) into ONE
    * serving index with the q126 layout discipline (one generation, one
    * file per cell). The merge is pure layout work — both inputs carry
    * final (vec_id, cent_id) routings against the same grid, so no
    * vector is ever re-encoded or re-routed — and the receipt proves
    * it: per-input sizes and cell counts, merged size (must be the
    * sum — disjoint halves), merged cell count, physical files after
    * (= |cells|, the serve-scan bound), and the q156 zero-missing audit
    * off the merged artifact vs the FULL corpus.
    *
    * Scale: one narrow shuffle of (vec_id, cent_id) pairs keyed by
    * cell — the same cost class as q165's compaction; the audit is the
    * q156 id-only anti-join. Nothing corpus-vector-sized moves. */
  def ivfMergeIndexes(s: SparkSession, d: String): DataFrame = {
    val qe = quantizedEmbeddings(s, d)
    val cent = fixedCells(qe)
    val half = halfIndexArtifact(s, d, cent)
    Scratch.withWorkDir("ivfq173") { work =>
      val a = s.read.parquet(s"$half/a")
      val b = s.read.parquet(s"$half/b")
      val aAgg = a.agg(count(lit(1)), countDistinct(col("cent_id"))).collect().head
      val bAgg = b.agg(count(lit(1)), countDistinct(col("cent_id"))).collect().head
      val merged = s"$work/index"
      a.select(col("vec_id"), col("cent_id").cast("long").as("cent_id"))
        .unionAll(b.select(col("vec_id"), col("cent_id").cast("long").as("cent_id")))
        .repartition(col("cent_id")).write.mode("overwrite")
        .partitionBy("cent_id").parquet(merged)
      val m = s.read.parquet(merged)
      val mAgg = m.agg(count(lit(1)), countDistinct(col("cent_id"))).collect().head
      val filesAfter = Option(new java.io.File(merged).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(_.getName.startsWith("cent_id="))
        .map(cd => cd.listFiles().count(_.getName.startsWith("part-")).toLong)
        .sum
      val nMissing = ivfCoverageByCell(s, qe, cent, m)
        .agg(coalesce(sum(col("n_missing")), lit(0L))).collect().head.getLong(0)
      s.range(1).select(
        lit(aAgg.getLong(0)).as("n_vecs_a"),
        lit(bAgg.getLong(0)).as("n_vecs_b"),
        lit(mAgg.getLong(0)).as("n_vecs_merged"),
        lit(aAgg.getLong(1)).as("n_cells_a"),
        lit(bAgg.getLong(1)).as("n_cells_b"),
        lit(mAgg.getLong(1)).as("n_cells_merged"),
        lit(filesAfter).as("files_after"),
        lit(nMissing).as("n_missing_after"))
    }
  }

  /** Oracle for [[ivfMergeIndexes]]: q43 routing of each half, counts
    * by layout algebra (files_after = |merged cells| — the one-file-
    * per-cell rule), zero-missing by construction. */
  val ivfMergeIndexesSql: String =
    """WITH base AS (
      |  SELECT vec_id, embedding,
      |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
      |  FROM embeddings),
      | q8 AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CASE WHEN ma > 0
      |      THEN floor(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) ELSE 0.0 END) AS q
      |  FROM base),
      | cent AS (SELECT vec_id AS cent_id, q AS cq FROM q8
      |         WHERE vec_id % 100 = 0 AND vec_id < 6400),
      | assigned AS (
      |  SELECT vec_id, cent_id FROM (
      |    SELECT v.vec_id, c.cent_id,
      |      row_number() OVER (PARTITION BY v.vec_id
      |        ORDER BY CAST(list_dot_product(v.q, c.cq) AS BIGINT) DESC,
      |                 c.cent_id ASC) AS rn
      |    FROM q8 v CROSS JOIN cent c) WHERE rn = 1)
      |SELECT
      |  CAST((SELECT count(*) FROM assigned WHERE vec_id % 2 = 0) AS BIGINT)
      |    AS n_vecs_a,
      |  CAST((SELECT count(*) FROM assigned WHERE vec_id % 2 = 1) AS BIGINT)
      |    AS n_vecs_b,
      |  CAST((SELECT count(*) FROM assigned) AS BIGINT) AS n_vecs_merged,
      |  CAST((SELECT count(DISTINCT cent_id) FROM assigned WHERE vec_id % 2 = 0)
      |    AS BIGINT) AS n_cells_a,
      |  CAST((SELECT count(DISTINCT cent_id) FROM assigned WHERE vec_id % 2 = 1)
      |    AS BIGINT) AS n_cells_b,
      |  CAST((SELECT count(DISTINCT cent_id) FROM assigned) AS BIGINT)
      |    AS n_cells_merged,
      |  CAST((SELECT count(DISTINCT cent_id) FROM assigned) AS BIGINT)
      |    AS files_after,
      |  CAST(0 AS BIGINT) AS n_missing_after""".stripMargin

  /** q174 — CENTROID RECENTER (one integer Lloyd step as index
    * maintenance — the APPLY behind q143's drift audit): when drift
    * says the corpus moved in embedding space, the cheapest repair is
    * re-centering the existing cells on their CURRENT members — one
    * k-means step, not a re-train. New centroid = component-wise
    * integer division of the member sum (exact: int8 components sum
    * < 2^53; BOTH engines truncate integer division toward zero —
    * measured: DuckDB -7 // 2 = -3, its flooring `//` is float-only —
    * so negative sums replay exactly); an empty cell keeps its old
    * centroid (the kmeansInt carry rule). Every vector then re-routes
    * against the recentered grid and the report is the maintenance
    * receipt: per cell, occupancy before and after, plus the global
    * moved-vector count — the number that says whether drift actually
    * warranted a rebuild.
    *
    * Scale: one assignment map + one |cells|-bounded mean aggregate +
    * one re-assignment map against the recentered broadcast grid; the
    * receipt is |cells| rows. No pairwise work, no index rewrite here —
    * the write-side apply is q165/q167's partitioned-dir discipline. */
  def ivfRecenter(s: SparkSession, d: String): DataFrame = {
    val qe = quantizedEmbeddings(s, d)
    val cent = fixedCells(qe)
    val dims = qe.select(size(col("q8"))).head().getInt(0)
    val assigned = assignCells(s, qe, cent)
      .select(col("vec_id"), col("q8"), col("cent_id"))
      .localCheckpoint(true) // feeds the mean agg AND both occupancy aggs
    // component-wise member sums (exact integers) -> integer-div means.
    // BOTH engines truncate toward zero on integer division (Spark
    // `div` = Java semantics; DuckDB's integer `//` measured: -7 // 2
    // = -3, NOT floor's -4 — its flooring `//` is float-only), so the
    // plain div replays exactly on negative sums too.
    val sums = assigned.groupBy(col("cent_id")).agg(
      count(lit(1)).as("n"),
      (0 until dims).map(i =>
        sum(element_at(col("q8"), i + 1)).cast("long").as(s"s$i")): _*)
    val recentered = sums.select(col("cent_id"), col("n"),
      array((0 until dims).map(i =>
        expr(s"CAST(s$i div n AS DOUBLE)")): _*).as("cq"))
    // carry rule: a cell with no members keeps its old centroid (cannot
    // fire at gate SF — every anchor routes somewhere — but the rule is
    // part of the operator's contract at any corpus)
    val newCent = cent.select(col("cent_id"), col("cq").as("old_cq"))
      .join(recentered.select(col("cent_id"), col("cq")), Seq("cent_id"), "left")
      .select(col("cent_id"), coalesce(col("cq"), col("old_cq")).as("cq"))
    val reassigned = assignCells(s,
        assigned.select(col("vec_id"), col("q8"), col("cent_id").as("old_cell")),
        newCent)
      .select(col("vec_id"), col("old_cell"), col("cent_id").as("new_cell"))
      .localCheckpoint(true)
    val occOld = reassigned.groupBy(col("old_cell").as("cent_id"))
      .agg(count(lit(1)).as("occ_before"))
    val occNew = reassigned.groupBy(col("new_cell").as("cent_id"))
      .agg(count(lit(1)).as("occ_after"))
    val moved = reassigned.where(col("old_cell") =!= col("new_cell"))
      .agg(count(lit(1)).as("n_moved"))
    occOld.join(occNew, Seq("cent_id"), "full")
      .select(col("cent_id"),
        coalesce(col("occ_before"), lit(0L)).as("occ_before"),
        coalesce(col("occ_after"), lit(0L)).as("occ_after"))
      .crossJoin(broadcast(moved))
      .orderBy(col("cent_id"))
  }

  /** Oracle for [[ivfRecenter]]: q43 routing, floor-div member means
    * (DuckDB `//` — the engine-pinned semantics), carry via left join,
    * re-routing, full-outer occupancy compare + global moved count. */
  val ivfRecenterSql: String =
    """WITH base AS (
      |  SELECT vec_id, embedding,
      |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
      |  FROM embeddings),
      | q8 AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CASE WHEN ma > 0
      |      THEN floor(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) ELSE 0.0 END) AS q
      |  FROM base),
      | cent AS (SELECT vec_id AS cent_id, q AS cq FROM q8
      |         WHERE vec_id % 100 = 0 AND vec_id < 6400),
      | assigned AS (
      |  SELECT vec_id, q, cent_id FROM (
      |    SELECT v.vec_id, v.q, c.cent_id,
      |      row_number() OVER (PARTITION BY v.vec_id
      |        ORDER BY CAST(list_dot_product(v.q, c.cq) AS BIGINT) DESC,
      |                 c.cent_id ASC) AS rn
      |    FROM q8 v CROSS JOIN cent c) WHERE rn = 1),
      | comp AS (
      |  SELECT cent_id, i, CAST(sum(x) AS BIGINT) AS s,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM (SELECT cent_id, unnest(q) AS x,
      |          generate_subscripts(q, 1) AS i FROM assigned)
      |  GROUP BY cent_id, i),
      | means AS (
      |  SELECT cent_id, list(CAST(s // n AS DOUBLE) ORDER BY i) AS cq
      |  FROM comp GROUP BY cent_id),
      | newcent AS (
      |  SELECT c.cent_id, coalesce(m.cq, c.cq) AS cq
      |  FROM cent c LEFT JOIN means m USING (cent_id)),
      | reassigned AS (
      |  SELECT vec_id, old_cell, cent_id AS new_cell FROM (
      |    SELECT a.vec_id, a.cent_id AS old_cell, c.cent_id,
      |      row_number() OVER (PARTITION BY a.vec_id
      |        ORDER BY CAST(list_dot_product(a.q, c.cq) AS BIGINT) DESC,
      |                 c.cent_id ASC) AS rn
      |    FROM assigned a CROSS JOIN newcent c) WHERE rn = 1),
      | occ_old AS (SELECT old_cell AS cent_id, CAST(count(*) AS BIGINT)
      |             AS occ_before FROM reassigned GROUP BY 1),
      | occ_new AS (SELECT new_cell AS cent_id, CAST(count(*) AS BIGINT)
      |             AS occ_after FROM reassigned GROUP BY 1),
      | mv AS (SELECT CAST(count(*) AS BIGINT) AS n_moved
      |        FROM reassigned WHERE old_cell <> new_cell)
      |SELECT coalesce(o.cent_id, n.cent_id) AS cent_id,
      |  CAST(coalesce(o.occ_before, 0) AS BIGINT) AS occ_before,
      |  CAST(coalesce(n.occ_after, 0) AS BIGINT) AS occ_after,
      |  mv.n_moved
      |FROM occ_old o FULL JOIN occ_new n ON o.cent_id = n.cent_id
      |CROSS JOIN mv
      |ORDER BY cent_id""".stripMargin

  /** q177 — QUANTIZATION FIDELITY AUDIT: the int8 pipeline (q48's
    * quantized retrieval and everything the IVF family serves) trades
    * precision for 4× bandwidth — this measures exactly what the trade
    * costs where it matters, in the ORDERING: per probe, take the
    * float-cosine top-k neighborhood (q40's rounded-cosine rank — the
    * serving ground truth) and count Kendall rank inversions between
    * the float order and the int8 integer-dot order over the same
    * candidates, plus whether the top-1 survives. recall@k (q144)
    * says how many of the right neighbors come back; this says how
    * well quantization preserves their ORDER — the number that decides
    * whether int8 ranks directly or only shortlists for a float
    * re-rank (the two-stage pattern every quantized stack chooses
    * between).
    *
    * Scale: candidates are |probes|·k rows (absolutely bounded); the
    * inversion count is a per-probe k² self-join of a 20-row group —
    * bounded pairs, never corpus-sized. Both orders are deterministic
    * (rounded cosine / exact integer dot, ties to the smaller id), so
    * the inversion counts replay bit-for-bit. */
  def quantFidelity(s: SparkSession, d: String, k: Int = 20): DataFrame = {
    val e = withNorm(s, d)
    val probes = e.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        col("nrm").as("qnrm"))
    val wF = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid").asc)
    val cand = e.join(broadcast(probes), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"),
        round(vecDot(col("qvec"), col("embedding")) / (col("qnrm") * col("nrm")), 4)
          .as("cos"))
      .withColumn("rf", row_number().over(wF)).where(col("rf") <= k)
    val qe = quantizedEmbeddings(s, d)
    val wQ = Window.partitionBy(col("qid")).orderBy(col("qdot").desc, col("cid").asc)
    val ranked = cand
      .join(qe.select(col("vec_id").as("cid"), col("q8").as("cq8")), "cid")
      .join(broadcast(qe.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("q8").as("pq8"))), "qid")
      .select(col("qid"), col("cid"), col("rf"),
        vecDot(col("pq8"), col("cq8")).cast("long").as("qdot"))
      .withColumn("rq", row_number().over(wQ))
      .localCheckpoint(true) // k·|probes| rows; feeds the pair join twice
    val inv = ranked.as("a")
      .join(ranked.as("b"),
        col("a.qid") === col("b.qid") && col("a.rf") < col("b.rf"))
      .groupBy(col("a.qid").as("qid"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("a.rq") > col("b.rq"), 1L).otherwise(0L)).as("n_inversions"))
    val top1 = ranked.groupBy(col("qid"))
      .agg(count(lit(1)).as("n_cand"),
        max(when(col("rf") === 1 && col("rq") === 1, 1L).otherwise(0L))
          .as("t1"))
    top1.join(inv, Seq("qid"))
      .select(col("qid"), col("n_cand"), col("n_pairs"), col("n_inversions"),
        expr("(1000000 * n_inversions) div n_pairs").as("inversion_ppm"),
        (col("t1") === 1L).as("top1_agree"))
      .orderBy(col("qid"))
  }

  /** Oracle for [[quantFidelity]] (k=20): q40's rounded-cosine rank,
    * the q48 integer-dot rank over the same candidates, Kendall pair
    * count between the two tie-broken orders. */
  val quantFidelitySql: String =
    """WITH ex AS (
      |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
      |         generate_subscripts(embedding, 1) AS i
      |  FROM embeddings),
      | norms AS (SELECT vec_id, sqrt(sum(v*v)) AS nrm FROM ex GROUP BY vec_id),
      | qx AS (SELECT * FROM ex WHERE vec_id < 5),
      | dots AS (
      |   SELECT q.vec_id AS qid, e.vec_id AS cid, sum(q.v * e.v) AS dp
      |   FROM qx q JOIN ex e ON q.i = e.i AND e.vec_id <> q.vec_id
      |   GROUP BY 1, 2),
      | cand AS (
      |   SELECT qid, cid, rf FROM (
      |     SELECT d.qid, d.cid,
      |       row_number() OVER (PARTITION BY d.qid
      |         ORDER BY round(d.dp / (nq.nrm * nc.nrm), 4) DESC,
      |                  d.cid ASC) AS rf
      |     FROM dots d
      |     JOIN norms nq ON nq.vec_id = d.qid
      |     JOIN norms nc ON nc.vec_id = d.cid) WHERE rf <= 20),
      | base AS (
      |  SELECT vec_id, embedding,
      |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
      |  FROM embeddings),
      | q8 AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CASE WHEN ma > 0
      |      THEN floor(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) ELSE 0.0 END) AS q
      |  FROM base),
      | ranked AS (
      |  SELECT c.qid, c.cid, c.rf,
      |    row_number() OVER (PARTITION BY c.qid
      |      ORDER BY CAST(list_dot_product(pq.q, cq.q) AS BIGINT) DESC,
      |               c.cid ASC) AS rq
      |  FROM cand c
      |  JOIN q8 pq ON pq.vec_id = c.qid
      |  JOIN q8 cq ON cq.vec_id = c.cid),
      | inv AS (
      |  SELECT a.qid, CAST(count(*) AS BIGINT) AS n_pairs,
      |    CAST(sum(CASE WHEN a.rq > b.rq THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_inversions
      |  FROM ranked a JOIN ranked b
      |    ON a.qid = b.qid AND a.rf < b.rf
      |  GROUP BY a.qid),
      | top1 AS (
      |  SELECT qid, CAST(count(*) AS BIGINT) AS n_cand,
      |    CAST(max(CASE WHEN rf = 1 AND rq = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS t1
      |  FROM ranked GROUP BY qid)
      |SELECT t.qid, t.n_cand, i.n_pairs, i.n_inversions,
      |  CAST((1000000 * i.n_inversions) // i.n_pairs AS BIGINT)
      |    AS inversion_ppm,
      |  t.t1 = 1 AS top1_agree
      |FROM top1 t JOIN inv i USING (qid)
      |ORDER BY t.qid""".stripMargin

  /** q168 — NPROBE AUTO-SELECT: the control loop that closes the
    * q144 → q164 pair. q144 measures recall, q164 provides the
    * recall-vs-cost knob — this operator TURNS it: for every nprobe in
    * 1..maxProbe it measures aggregate recall@k on the probe set
    * against the exact brute-force truth (q144's ground-truth rule,
    * same integer tie-break) AND the serve cost (candidate rows
    * scanned — the number a capacity plan bills by), then selects the
    * smallest nprobe whose recall meets `targetPpm`, falling back to
    * the widest probe when none does. One row per nprobe, `chosen`
    * flagging the selection — the full curve ships, because the point
    * of an auto-tuner is an AUDITABLE decision, not a bare integer.
    *
    * Cost model: ONE corpus assignment map (broadcast argmax, zero
    * exchanges), one brute truth pass bounded by |probes| (q144's
    * bound), and the candidate table materialized ONCE at the widest
    * nprobe — narrower levels are prefix-filters of it (probe cells are
    * RANKED, so level p's candidates are exactly the pr ≤ p rows), not
    * re-searches. At 100 TB the whole tuning run costs one q164 at
    * maxProbe plus |probes|-bounded joins. */
  def nprobeSelect(s: SparkSession, d: String, k: Int = 10,
      maxProbe: Int = 3, targetPpm: Long = 900000L): DataFrame = {
    val qe = quantizedEmbeddings(s, d)
    val cent = fixedCells(qe)
    val assigned = assignCells(s, qe, cent)
      .select(col("vec_id"), col("q8"), col("cent_id"))
    // ranked probe cells: pr = 1 is the argmax cell, pr = p widens
    val pcells = assignCellsTopP(s, qe.where(col("vec_id") < 5), cent, maxProbe)
      .select(col("vec_id").as("qid"), col("q8").as("qv"),
        posexplode(col("probe_cells")).as(Seq("pr0", "qcell")))
      .select(col("qid"), col("qv"), (col("pr0") + 1).as("pr"), col("qcell"))
    // r17 (guide §2.6): the truth pass and the widest-level candidate
    // pass are independent corpus scans, each eagerly materialized
    // (bounded: |probes|·k and the probe cells' occupancy) — run them
    // concurrently from driver threads so one scan's stragglers overlap
    // the other's start; wall-clock is the slower scan, not the sum.
    val Seq(truth, cand) = Pipelines.runConcurrently(s, 2)(Seq(
      () => quantizedTopK(s, d, k).select(col("qid"), col("cid"))
        .localCheckpoint(true), // feeds tot + per-level hits
      // widest-level candidates, computed once (each corpus vector meets
      // a query at most once per ranked probe cell)
      () => assigned.join(broadcast(pcells),
          col("cent_id") === col("qcell") && col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("cid"), col("pr"),
          vecDot(col("qv"), col("q8")).cast("long").as("dot"))
        .localCheckpoint(true)))
    val lv = s.range(1, maxProbe + 1).select(col("id").as("nprobe"))
    val candL = cand.join(broadcast(lv), col("pr") <= col("nprobe"))
    val wTop = Window.partitionBy(col("nprobe"), col("qid"))
      .orderBy(col("dot").desc, col("cid").asc)
    val ann = candL.withColumn("rank", row_number().over(wTop))
      .where(col("rank") <= k).select(col("nprobe"), col("qid"), col("cid"))
    val nCand = candL.groupBy(col("nprobe")).agg(count(lit(1)).as("n_cand"))
    val hits = ann.join(truth, Seq("qid", "cid"))
      .groupBy(col("nprobe")).agg(count(lit(1)).as("n_hit"))
    val tot = truth.agg(count(lit(1)).as("n_truth"))
    val curve = lv.join(nCand, Seq("nprobe"))
      .crossJoin(broadcast(tot))
      .join(hits, Seq("nprobe"), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .withColumn("recall_ppm", expr("(1000000 * n_hit) div n_truth"))
    val sel = curve.agg(coalesce(
      min(when(col("recall_ppm") >= targetPpm, col("nprobe"))),
      max(col("nprobe"))).as("sel"))
    curve.crossJoin(broadcast(sel))
      .select(col("nprobe"), col("n_cand"), col("n_truth"), col("n_hit"),
        col("recall_ppm"), (col("nprobe") === col("sel")).as("chosen"))
      .orderBy(col("nprobe"))
  }

  /** Oracle for [[nprobeSelect]] (k=10, maxProbe=3, target 900000):
    * the q164 CTEs with ranked probe cells kept per-level, the q144
    * truth rule, and the min-meeting-target selection. */
  val nprobeSelectSql: String =
    """WITH base AS (
      |  SELECT vec_id, embedding,
      |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
      |  FROM embeddings),
      | q8 AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CASE WHEN ma > 0
      |      THEN floor(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) ELSE 0.0 END) AS q
      |  FROM base),
      | cent AS (SELECT vec_id AS cent_id, q AS cq FROM q8
      |         WHERE vec_id % 100 = 0 AND vec_id < 6400),
      | assigned AS (
      |  SELECT vec_id, q, cent_id FROM (
      |    SELECT v.vec_id, v.q, c.cent_id,
      |      row_number() OVER (PARTITION BY v.vec_id
      |        ORDER BY CAST(list_dot_product(v.q, c.cq) AS BIGINT) DESC,
      |                 c.cent_id ASC) AS rn
      |    FROM q8 v CROSS JOIN cent c) WHERE rn = 1),
      | probes0 AS (SELECT vec_id AS qid, q AS qv FROM q8 WHERE vec_id < 5),
      | truth AS (
      |  SELECT qid, cid FROM (
      |    SELECT p.qid, v.vec_id AS cid,
      |      row_number() OVER (PARTITION BY p.qid
      |        ORDER BY CAST(list_dot_product(p.qv, v.q) AS BIGINT) DESC,
      |                 v.vec_id ASC) AS rank
      |    FROM q8 v JOIN probes0 p ON v.vec_id <> p.qid) WHERE rank <= 10),
      | pcells AS (
      |  SELECT qid, qv, cent_id AS qcell, rn AS pr FROM (
      |    SELECT p.qid, p.qv, c.cent_id,
      |      row_number() OVER (PARTITION BY p.qid
      |        ORDER BY CAST(list_dot_product(p.qv, c.cq) AS BIGINT) DESC,
      |                 c.cent_id ASC) AS rn
      |    FROM probes0 p CROSS JOIN cent c) WHERE rn <= 3),
      | cand AS (
      |  SELECT pc.qid, a.vec_id AS cid, pc.pr,
      |    CAST(list_dot_product(pc.qv, a.q) AS BIGINT) AS dot
      |  FROM assigned a JOIN pcells pc
      |    ON a.cent_id = pc.qcell AND a.vec_id <> pc.qid),
      | levels AS (SELECT unnest([1, 2, 3]) AS nprobe),
      | ann AS (
      |  SELECT nprobe, qid, cid FROM (
      |    SELECT l.nprobe, c.qid, c.cid,
      |      row_number() OVER (PARTITION BY l.nprobe, c.qid
      |        ORDER BY c.dot DESC, c.cid ASC) AS rank
      |    FROM cand c JOIN levels l ON c.pr <= l.nprobe) WHERE rank <= 10),
      | ncand AS (
      |  SELECT l.nprobe, CAST(count(*) AS BIGINT) AS n_cand
      |  FROM cand c JOIN levels l ON c.pr <= l.nprobe GROUP BY 1),
      | hits AS (
      |  SELECT a.nprobe, CAST(count(*) AS BIGINT) AS n_hit
      |  FROM ann a JOIN truth t ON a.qid = t.qid AND a.cid = t.cid
      |  GROUP BY 1),
      | tot AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
      | curve AS (
      |  SELECT CAST(l.nprobe AS BIGINT) AS nprobe, nc.n_cand, tot.n_truth,
      |    CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
      |    CAST((1000000 * coalesce(h.n_hit, 0)) // tot.n_truth AS BIGINT)
      |      AS recall_ppm
      |  FROM levels l
      |  JOIN ncand nc ON nc.nprobe = l.nprobe
      |  LEFT JOIN hits h ON h.nprobe = l.nprobe
      |  CROSS JOIN tot),
      | sel AS (
      |  SELECT coalesce(
      |    (SELECT min(nprobe) FROM curve WHERE recall_ppm >= 900000),
      |    (SELECT max(nprobe) FROM curve)) AS sel)
      |SELECT c.nprobe, c.n_cand, c.n_truth, c.n_hit, c.recall_ppm,
      |  c.nprobe = sel.sel AS chosen
      |FROM curve c CROSS JOIN sel
      |ORDER BY c.nprobe""".stripMargin

  /** q169 — FILTERED ANN SEARCH: top-k under a metadata predicate —
    * the feature every production vector store leads with ("nearest
    * neighbors WHERE label = X") and the one that breaks naive IVF:
    * post-filtering a plain top-k can return < k rows when the
    * neighborhood is predicate-sparse. This is the PRE-FILTER shape:
    * the predicate cuts the candidate set BEFORE ranking, so every
    * returned rank is a true filtered neighbor, and multi-probe
    * (nprobe = 2 here) widens the pool the way a real stack compensates
    * for filter selectivity. Routing, dots, and ranks all stay exact
    * integers (the q43/q164 regime) — DuckDB replays the pipeline
    * verbatim.
    *
    * Scale: the predicate column rides a vec_id equi-join onto the
    * assigned corpus (at 100 TB the label lives IN the index rows and
    * this join disappears — it exists here because the quantized
    * artifact is deliberately narrow); candidates are nprobe cells'
    * occupancy per query, filtered map-side before the rank window. */
  def ivfTopKFiltered(s: SparkSession, d: String, k: Int = 10,
      nprobe: Int = 2): DataFrame = {
    val qe = quantizedEmbeddings(s, d)
    val cent = fixedCells(qe)
    val labels = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
    val assigned = assignCells(s, qe, cent)
      .join(labels, Seq("vec_id"))
      .select(col("vec_id"), col("q8"), col("cent_id"), col("label"))
    val probes = assignCellsTopP(s, qe.where(col("vec_id") < 5), cent, nprobe)
      .select(col("vec_id").as("qid"), col("q8").as("qv"),
        explode(col("probe_cells")).as("qcell"))
    val wTop = Window.partitionBy(col("qid")).orderBy(col("dot").desc, col("cid").asc)
    assigned.where(col("label") % 2 === 0)
      .join(broadcast(probes),
        col("cent_id") === col("qcell") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"),
        vecDot(col("qv"), col("q8")).cast("long").as("dot"))
      .withColumn("rank", row_number().over(wTop))
      .where(col("rank") <= k)
      .orderBy(col("qid"), col("rank"))
  }

  /** Oracle for [[ivfTopKFiltered]] (k=10, nprobe=2, label % 2 = 0). */
  val ivfTopKFilteredSql: String =
    """WITH base AS (
      |  SELECT vec_id, embedding, label,
      |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
      |  FROM embeddings),
      | q8 AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding, x -> CASE WHEN ma > 0
      |      THEN floor(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) ELSE 0.0 END) AS q
      |  FROM base),
      | cent AS (SELECT vec_id AS cent_id, q AS cq FROM q8
      |         WHERE vec_id % 100 = 0 AND vec_id < 6400),
      | assigned AS (
      |  SELECT vec_id, label, q, cent_id FROM (
      |    SELECT v.vec_id, v.label, v.q, c.cent_id,
      |      row_number() OVER (PARTITION BY v.vec_id
      |        ORDER BY CAST(list_dot_product(v.q, c.cq) AS BIGINT) DESC,
      |                 c.cent_id ASC) AS rn
      |    FROM q8 v CROSS JOIN cent c) WHERE rn = 1),
      | pcells AS (
      |  SELECT qid, qv, cent_id AS qcell FROM (
      |    SELECT p.vec_id AS qid, p.q AS qv, c.cent_id,
      |      row_number() OVER (PARTITION BY p.vec_id
      |        ORDER BY CAST(list_dot_product(p.q, c.cq) AS BIGINT) DESC,
      |                 c.cent_id ASC) AS rn
      |    FROM q8 p CROSS JOIN cent c WHERE p.vec_id < 5) WHERE rn <= 2),
      | cand AS (
      |  SELECT pc.qid, a.vec_id AS cid,
      |    CAST(list_dot_product(pc.qv, a.q) AS BIGINT) AS dot
      |  FROM assigned a JOIN pcells pc
      |    ON a.cent_id = pc.qcell AND a.vec_id <> pc.qid
      |  WHERE a.label % 2 = 0),
      | ranked AS (
      |  SELECT qid, cid, dot,
      |    row_number() OVER (PARTITION BY qid ORDER BY dot DESC, cid ASC) AS rank
      |  FROM cand)
      |SELECT qid, cid, dot, rank FROM ranked WHERE rank <= 10
      |ORDER BY qid, rank""".stripMargin

  /** q166 — VECTOR-FAMILY ERASURE (r13 verdict item 5): the
    * right-to-be-forgotten path for the index tier. q131's relational
    * erasure cascade removes a subject from the TABLES; nothing erased
    * them from the PERSISTED DERIVED ARTIFACTS — the quantized store,
    * the IVF index, the admitted-dedup signature state — which at
    * 100 TB are long-lived tables a compliance audit reads directly.
    * The erase list is the deterministic subject rule `id % 97 = 3`
    * (documents and embeddings share the id space — the q160
    * convention). Each store is rewritten under q159's
    * touch-only-affected discipline: victims name their partitions
    * (bucket / cell), ONLY those partitions are dynamic-overwritten
    * with their survivors, a fully-erased partition's directory is
    * removed, and untouched partitions' files are never opened for
    * write (the spec asserts their mtimes are unchanged). The receipt
    * is the compliance log line: per-tier erased counts and partitions
    * touched, plus a q156-style residual audit measured OFF the
    * repaired artifacts — zero residual ids, fresh reads, not assumed.
    *
    * Scale: cost ∝ the affected partitions' occupancy (|victims| ×
    * mean partition size), never the store — the same cost model as
    * q159's repair. All counts integer; DuckDB replays the routing,
    * bucketing, and signature-existence legs exactly. */
  def vectorErasure(s: SparkSession, d: String): DataFrame = {
    val qe = quantizedEmbeddings(s, d)
    val cent = fixedCells(qe)
    val fix = erasureFixture(s, d, cent)
    Scratch.withWorkDir("eraseq166") { work =>
      Seq("store", "index", "sig").foreach(t =>
        Scratch.cloneDir(s"$fix/$t", s"$work/$t"))
      val victimVec = pmod(col("vec_id"), lit(97)) === 3
      val victimDoc = pmod(col("doc_id"), lit(97)) === 3
      // r17 (guide §2.6 overlap independent jobs): the three stores are
      // independent directories, so their erasures run concurrently from
      // driver threads — wall-clock is the slowest tier, not the sum.
      // eraseFromStore is thread-safe since the dynamic-overwrite mode
      // became a per-write option rather than a session-conf mutation.
      val Seq((nStoreErased, nStoreBkts), (nIndexErased, nCells),
        (nSigErased, nSigBkts)) = Pipelines.runConcurrently(s, 3)(Seq(
          () => eraseFromStore(s, s"$work/store", "bkt", victimVec),
          () => eraseFromStore(s, s"$work/index", "cent_id", victimVec),
          () => eraseFromStore(s, s"$work/sig", "bkt", victimDoc)))
      // residual audit OFF DISK: fresh reads of the repaired artifacts.
      // r17 (§1.2 job-count): one job for the store+sig victim counts
      // (union of unit projections) and one per-index aggregate carrying
      // residual AND total — 4 driver actions → 2, same receipt numbers.
      val residualStoreSig =
        s.read.parquet(s"$work/store").where(victimVec).select(lit(1))
          .unionAll(
            s.read.parquet(s"$work/sig").where(victimDoc).select(lit(1)))
          .count()
      val idxStats = s.read.parquet(s"$work/index")
        .agg(count(lit(1)).as("n"),
          count(when(victimVec, 1)).as("resid")).collect().head
      val nIndexAfter = idxStats.getLong(0)
      val residual = residualStoreSig + idxStats.getLong(1)
      s.range(1).select(
        lit(nStoreErased).as("n_store_erased"),
        lit(nStoreBkts).as("n_store_buckets"),
        lit(nIndexErased).as("n_index_erased"),
        lit(nCells).as("n_cells_touched"),
        lit(nSigErased).as("n_sig_erased"),
        lit(nSigBkts).as("n_sig_buckets"),
        lit(residual).as("n_residual_after"),
        lit(nIndexAfter).as("n_index_after"))
    }
  }

  /** Oracle for [[vectorErasure]]: the erase rule, bucketing, q43 cell
    * routing, and signature existence (≥ 1 shingle) replayed
    * relationally; residual is identically zero after a correct
    * erasure. */
  def vectorErasureSql: String =
    s"""WITH base AS (
       |  SELECT vec_id, embedding,
       |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
       |  FROM embeddings),
       | q8 AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CASE WHEN ma > 0
       |      THEN floor(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) ELSE 0.0 END) AS q
       |  FROM base),
       | cent AS (SELECT vec_id AS cent_id, q AS cq FROM q8
       |         WHERE vec_id % 100 = 0 AND vec_id < 6400),
       | victims AS (SELECT vec_id, q FROM q8 WHERE vec_id % 97 = 3),
       | vcells AS (
       |  SELECT vec_id, cent_id FROM (
       |    SELECT v.vec_id, c.cent_id,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY CAST(list_dot_product(v.q, c.cq) AS BIGINT) DESC,
       |                 c.cent_id ASC) AS rn
       |    FROM victims v CROSS JOIN cent c) WHERE rn = 1),
       | sh AS (${graft.ops.Dedup.shinglesSqlCte}),
       | signed AS (SELECT DISTINCT doc_id FROM sh),
       | sigvic AS (SELECT doc_id FROM signed WHERE doc_id % 97 = 3)
       |SELECT
       |  CAST((SELECT count(*) FROM victims) AS BIGINT) AS n_store_erased,
       |  CAST((SELECT count(DISTINCT vec_id % 16) FROM victims) AS BIGINT)
       |    AS n_store_buckets,
       |  CAST((SELECT count(*) FROM victims) AS BIGINT) AS n_index_erased,
       |  CAST((SELECT count(DISTINCT cent_id) FROM vcells) AS BIGINT)
       |    AS n_cells_touched,
       |  CAST((SELECT count(*) FROM sigvic) AS BIGINT) AS n_sig_erased,
       |  CAST((SELECT count(DISTINCT doc_id % 16) FROM sigvic) AS BIGINT)
       |    AS n_sig_buckets,
       |  CAST(0 AS BIGINT) AS n_residual_after,
       |  CAST((SELECT count(*) FROM q8) -
       |       (SELECT count(*) FROM victims) AS BIGINT) AS n_index_after""".stripMargin

  // --------------------------------------------------------------------
  // Binary (sign-bit) quantization tier — q178/q179
  // --------------------------------------------------------------------

  /** One 32-bit half of the sign sketch: bit i set iff component
    * `off·32 + i` of the embedding is > 0. Packed as a LONG holding an
    * unsigned 32-bit value (never touches the sign bit), so shifts,
    * XOR, and popcount are portable verbatim to DuckDB's BIGINT ops —
    * a single 64-bit word would need bit 63 and diverge on shift
    * overflow semantics. Pure narrow map (aggregate over zip_with),
    * zero shuffle. */
  private def signPackHalf(off: Int): Column =
    expr(s"""aggregate(zip_with(slice(embedding, ${1 + off * 32}, 32),
      sequence(0, 31),
      (x, i) -> IF(x > CAST(0 AS FLOAT),
                   shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))),
      CAST(0 AS BIGINT), (a, b) -> a + b)""")

  /** (vec_id, s1, s2): the 64-dim embedding as 64 sign bits in two
    * 32-bit halves. */
  private[graft] def signSketch(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
      signPackHalf(0).as("s1"), signPackHalf(1).as("s2"))

  /** q178 — BINARY-QUANTIZATION RETRIEVAL (sign sketch + Hamming scan):
    * the coarsest tier of the quantization ladder the engine now covers
    * end-to-end (float q40 → int8 q48 → PQ q106 → 1-bit here). Each
    * vector compresses to 64 SIGN BITS (8 bytes — 32× below float32),
    * and retrieval is XOR + popcount: for unit-ish embeddings,
    * Hamming(sign(a), sign(b)) estimates the angle (the SimHash/
    * hyperplane-LSH identity q35 uses for text, applied natively to the
    * vector tier), so nearest-by-Hamming is the standard cheap first
    * pass of a production vector stack — the tier you scan when even
    * int8 doesn't fit the bandwidth budget. Top-k by (hamming asc,
    * cid asc): bit counts are small exact integers, so the rank is
    * fully deterministic and DuckDB replays it bit-for-bit.
    *
    * Scale: sketch = narrow map (no shuffle); the scan is ONE pass of
    * the 8-byte sketch column against broadcast probes — at 100 TB the
    * sketch column of a billion vectors is 16 GB, a cache-resident
    * scan; candidates never exceed |probes| × n and collapse to
    * |probes| × k through the rank window's partial top-k. */
  def hammingTopK(s: SparkSession, d: String, k: Int = 10): DataFrame = {
    val sk = signSketch(Tables.embeddings(s, d))
    val probes = sk.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("s1").as("p1"), col("s2").as("p2"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("hamming").asc, col("cid").asc)
    sk.join(broadcast(probes), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"),
        (expr("bit_count(s1 ^ p1)") + expr("bit_count(s2 ^ p2)"))
          .cast("long").as("hamming"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .orderBy(col("qid"), col("rank"))
  }

  /** Shared oracle CTE: the sign sketch replayed in DuckDB. */
  private val signSketchCte: String =
    """SELECT vec_id,
      |    CAST(list_sum(list_transform(range(1, 33), i ->
      |      CASE WHEN embedding[i] > CAST(0 AS FLOAT)
      |           THEN (CAST(1 AS BIGINT) << (i - 1))
      |           ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS s1,
      |    CAST(list_sum(list_transform(range(33, 65), i ->
      |      CASE WHEN embedding[i] > CAST(0 AS FLOAT)
      |           THEN (CAST(1 AS BIGINT) << (i - 33))
      |           ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS s2
      |  FROM embeddings""".stripMargin

  /** Oracle for [[hammingTopK]] (k=10, probes vec_id < 5). */
  val hammingTopKSql: String =
    s"""WITH sk AS (
       |  $signSketchCte),
       | probes AS (SELECT vec_id AS qid, s1 AS p1, s2 AS p2 FROM sk
       |            WHERE vec_id < 5),
       | cand AS (
       |  SELECT p.qid, t.vec_id AS cid,
       |    CAST(bit_count(xor(t.s1, p.p1)) + bit_count(xor(t.s2, p.p2))
       |      AS BIGINT) AS hamming
       |  FROM sk t JOIN probes p ON t.vec_id <> p.qid),
       | ranked AS (
       |  SELECT qid, cid, hamming,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY hamming ASC, cid ASC) AS rank
       |  FROM cand)
       |SELECT qid, cid, hamming, rank FROM ranked WHERE rank <= 10
       |ORDER BY qid, rank""".stripMargin

  /** q179 — TWO-STAGE RETRIEVAL (binary shortlist → exact int8 rerank):
    * the serving shape q177's fidelity audit motivates. q177 measured
    * 15–46% rank-inversion ppm between quantized and full-precision
    * orders — the standard industry answer is NOT to serve the coarse
    * order but to SHORTLIST with the cheap metric and RERANK the
    * shortlist with a finer one. Stage 1 scans the 8-byte sign sketch
    * (q178's tier) for the top-`shortlist` candidates per probe by
    * Hamming; stage 2 reranks ONLY those with the exact integer int8
    * dot (q48's tier — one fidelity level up, still hash-exact). The
    * full-precision column is touched for |probes|×shortlist rows, not
    * n — the cost model that makes reranking free at 100 TB. Both
    * stages exact-integer, ties to smaller cid, so DuckDB replays the
    * whole cascade.
    *
    * Scale: stage 1 = q178's bandwidth-bounded scan; stage 2 = a
    * broadcast join of the |probes|×shortlist shortlist against the
    * quantized store (at scale: point lookups into the vec_id-keyed
    * artifact), then a |probes|×shortlist-row window. Nothing n-sized
    * shuffles. */
  def twoStageTopK(s: SparkSession, d: String, k: Int = 10,
      shortlist: Int = 50): DataFrame = {
    val sk = signSketch(Tables.embeddings(s, d))
    val probes = sk.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("s1").as("p1"), col("s2").as("p2"))
    val wShort = Window.partitionBy(col("qid"))
      .orderBy(col("hamming").asc, col("cid").asc)
    val short = sk.join(broadcast(probes), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"),
        (expr("bit_count(s1 ^ p1)") + expr("bit_count(s2 ^ p2)"))
          .cast("long").as("hamming"))
      .withColumn("rh", row_number().over(wShort))
      .where(col("rh") <= shortlist)
      .select(col("qid"), col("cid"), col("hamming"))
    val qe = quantizedEmbeddings(s, d)
    val pq = qe.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("q8").as("qv"))
    val wRank = Window.partitionBy(col("qid"))
      .orderBy(col("dot").desc, col("cid").asc)
    short.join(qe.select(col("vec_id").as("cid"), col("q8")), Seq("cid"))
      .join(broadcast(pq), Seq("qid"))
      .select(col("qid"), col("cid"), col("hamming"),
        vecDot(col("qv"), col("q8")).cast("long").as("dot"))
      .withColumn("rank", row_number().over(wRank))
      .where(col("rank") <= k)
      .orderBy(col("qid"), col("rank"))
  }

  /** Oracle for [[twoStageTopK]] (shortlist=50, k=10). */
  val twoStageTopKSql: String =
    s"""WITH sk AS (
       |  $signSketchCte),
       | probes AS (SELECT vec_id AS qid, s1 AS p1, s2 AS p2 FROM sk
       |            WHERE vec_id < 5),
       | short AS (
       |  SELECT qid, cid, hamming FROM (
       |    SELECT p.qid, t.vec_id AS cid,
       |      CAST(bit_count(xor(t.s1, p.p1)) + bit_count(xor(t.s2, p.p2))
       |        AS BIGINT) AS hamming,
       |      row_number() OVER (PARTITION BY p.qid
       |        ORDER BY bit_count(xor(t.s1, p.p1)) + bit_count(xor(t.s2, p.p2)) ASC,
       |                 t.vec_id ASC) AS rh
       |    FROM sk t JOIN probes p ON t.vec_id <> p.qid) WHERE rh <= 50),
       | base AS (
       |  SELECT vec_id, embedding,
       |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
       |  FROM embeddings),
       | q8 AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CASE WHEN ma > 0
       |      THEN floor(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) ELSE 0.0 END) AS q
       |  FROM base),
       | rerank AS (
       |  SELECT sh.qid, sh.cid, sh.hamming,
       |    CAST(list_dot_product(pq.q, cq.q) AS BIGINT) AS dot
       |  FROM short sh
       |  JOIN q8 pq ON pq.vec_id = sh.qid
       |  JOIN q8 cq ON cq.vec_id = sh.cid),
       | ranked AS (
       |  SELECT qid, cid, hamming, dot,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY dot DESC, cid ASC) AS rank
       |  FROM rerank)
       |SELECT qid, cid, hamming, dot, rank FROM ranked WHERE rank <= 10
       |ORDER BY qid, rank""".stripMargin

  /** q180 — CONTRASTIVE TRIPLET MINING: the training-data generator for
    * embedding-model fine-tuning (the DPR/SimCSE hard-negative recipe —
    * retrieval models train on (anchor, positive, hard-negative)
    * triplets, and the informative negatives are the CLOSE wrong-class
    * ones, not random draws). Per anchor: positive = the nearest
    * same-label vector, hard negative = the nearest DIFFERENT-label
    * vector, margin = pos_dot − neg_dot — a margin ≤ 0 names exactly
    * the triplets a triplet loss would currently get wrong (the ones
    * worth training on). All dots exact integers on the q48 int8 grid,
    * ties to smaller id, so DuckDB replays the mining bit-for-bit.
    *
    * Scale: anchors are a deterministic bounded sample (id % 100 = 7,
    * the probe convention) and BROADCAST; the corpus streams once
    * through the dot + conditional `max_by` aggregate — each task
    * collapses to ≤ 2 rows per anchor before the shuffle (map-side
    * combine), so the exchange carries |anchors|-bounded rows at any
    * corpus size. In production the anchor set is the daily training
    * batch; cost stays one corpus scan per batch. */
  def contrastiveMine(s: SparkSession, d: String): DataFrame = {
    val qe = quantizedEmbeddings(s, d)
    val lab = qe.join(Tables.embeddings(s, d)
      .select(col("vec_id"), col("label")), Seq("vec_id"))
    // anchors BOUNDED in absolute terms (the q143/q169 convention):
    // % 100 alone is a fraction of the corpus — at sf30 that is 6k
    // anchors × 600k vectors of dots; the < 6400 cap keeps the anchor
    // set ≤ 64 at any corpus size (a daily training batch, not a scan)
    val anchors = lab.where(pmod(col("vec_id"), lit(100)) === 7 &&
        col("vec_id") < 6400)
      .select(col("vec_id").as("aid"), col("q8").as("aq"),
        col("label").as("alabel"))
    lab.join(broadcast(anchors), col("vec_id") =!= col("aid"))
      .select(col("aid"), col("alabel"), col("vec_id").as("cid"), col("label"),
        vecDot(col("aq"), col("q8")).cast("long").as("dot"))
      .groupBy(col("aid"), col("alabel"))
      .agg(
        // max_by skips rows whose ordering struct is NULL, so each
        // aggregate sees only its own candidate class
        max_by(struct(col("cid").as("id"), col("dot").as("d")),
          when(col("label") === col("alabel"),
            struct(col("dot"), -col("cid")))).as("pos"),
        max_by(struct(col("cid").as("id"), col("dot").as("d")),
          when(col("label") =!= col("alabel"),
            struct(col("dot"), -col("cid")))).as("neg"))
      // degenerate-anchor guard (r14 advice): an anchor whose label is
      // the only class present (or absent) among candidates has NULL
      // pos or neg — the oracle's inner joins DROP that anchor, so
      // Spark must too, or a label-skewed corpus diverges the gate
      .where(col("pos").isNotNull && col("neg").isNotNull)
      .select(col("aid"), col("alabel").as("label"),
        col("pos.id").as("pos_id"), col("pos.d").as("pos_dot"),
        col("neg.id").as("neg_id"), col("neg.d").as("neg_dot"),
        (col("pos.d") - col("neg.d")).as("margin"))
      .orderBy(col("aid"))
  }

  /** Oracle for [[contrastiveMine]]: quantize + the two class-filtered
    * nearest-neighbor rankings, replayed with rank windows. */
  val contrastiveMineSql: String =
    """WITH base AS (
      |  SELECT vec_id, embedding, label,
      |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
      |  FROM embeddings),
      | q8 AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding, x -> CASE WHEN ma > 0
      |      THEN floor(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) ELSE 0.0 END) AS q
      |  FROM base),
      | anchors AS (SELECT vec_id AS aid, q AS aq, label AS alabel
      |             FROM q8 WHERE vec_id % 100 = 7 AND vec_id < 6400),
      | scored AS (
      |  SELECT a.aid, a.alabel, l.vec_id AS cid, l.label,
      |    CAST(list_dot_product(a.aq, l.q) AS BIGINT) AS dot
      |  FROM q8 l JOIN anchors a ON l.vec_id <> a.aid),
      | pos AS (
      |  SELECT aid, cid, dot FROM (
      |    SELECT aid, cid, dot, row_number() OVER (PARTITION BY aid
      |      ORDER BY dot DESC, cid ASC) AS rn
      |    FROM scored WHERE label = alabel) WHERE rn = 1),
      | neg AS (
      |  SELECT aid, cid, dot FROM (
      |    SELECT aid, cid, dot, row_number() OVER (PARTITION BY aid
      |      ORDER BY dot DESC, cid ASC) AS rn
      |    FROM scored WHERE label <> alabel) WHERE rn = 1)
      |SELECT a.aid, CAST(a.alabel AS INT) AS label,
      |  p.cid AS pos_id, p.dot AS pos_dot,
      |  n.cid AS neg_id, n.dot AS neg_dot,
      |  CAST(p.dot - n.dot AS BIGINT) AS margin
      |FROM anchors a
      |JOIN pos p ON p.aid = a.aid
      |JOIN neg n ON n.aid = a.aid
      |ORDER BY a.aid""".stripMargin

  /** Corrupted-index fixture for [[ivfDigestAudit]], built once like
    * [[damagedIndexArtifact]]. Full corpus routed and cell-partitioned,
    * with victims (vec_id % 167 = 5) committed under a CORRUPTED id
    * (−id−1) — counts per cell stay intact, so the corruption is
    * invisible to any count-based audit. */
  private def corruptedIndexArtifact(s: SparkSession, d: String,
      stride: Int, cent: DataFrame): String =
    Scratch.artifact(
        s"ivfcor_v2_${stride}_${Tables.sourceFingerprint(d, "embeddings")}") { dir =>
      assignCells(s, quantizedEmbeddings(s, d), cent)
        .select(
          when(pmod(col("vec_id"), lit(167)) === 5, -col("vec_id") - 1)
            .otherwise(col("vec_id")).as("vec_id"),
          col("cent_id"))
        .repartition(col("cent_id")).write.mode("overwrite")
        .partitionBy("cent_id").parquet(s"$dir/index")
    } + "/index"

  /** q184 — INDEX INTEGRITY DIGEST AUDIT: q99's Merkle-split
    * reconciliation discipline applied to the vector tier. q156 audits
    * COVERAGE (ids missing from the index) with an id-level anti-join;
    * this audits INTEGRITY — a bit-flipped or mis-written id inside a
    * committed cell keeps every count intact, so a count-based monitor
    * reads a corrupted index as healthy. Per cell, BOTH sides reduce to
    * (row count, XOR of 60-bit md5 id digests): the corpus side from
    * the broadcast-argmax routing (what the index SHOULD hold), the
    * index side from a fresh off-disk read (what it DOES hold); the
    * |cells|-bounded compare then NAMES the diverged cells — count
    * intact + digest diverged = the silent-corruption signature — and
    * q159's repair touches only those. The gate fixture plants exactly
    * that: three victims committed under corrupted ids, counts
    * conserved.
    *
    * Scale: each side is one narrow scan into a map-side-combined
    * |cells|-row aggregate (ids never shuffle — the q99 argument); the
    * compare joins two |cells|-row tables. Detection cost is O(scan),
    * localization free, repair ∝ diverged cells. */
  def ivfDigestAudit(s: SparkSession, d: String,
      centStride: Int = 0, indexDir: String = ""): DataFrame = {
    val qe = quantizedEmbeddings(s, d)
    val (stride, cent) = strideCells(s, d, qe, centStride)
    val idx = s.read.parquet(
      if (indexDir.nonEmpty) indexDir
      else corruptedIndexArtifact(s, d, stride, cent))
    def digestOf(df: DataFrame, n: String, g: String): DataFrame =
      df.select(col("cent_id"),
        conv(substring(md5(concat(lit("ivd|"), col("vec_id").cast("string"))),
          1, 15), 16, 10).cast("long").as("h"))
        .groupBy(col("cent_id"))
        .agg(count(lit(1)).as(n), expr("bit_xor(h)").as(g))
    val corpus = digestOf(
      assignCells(s, qe, cent).select(col("vec_id"), col("cent_id")),
      "n_corpus", "dig_corpus")
    val index = digestOf(
      idx.select(col("vec_id"), col("cent_id").cast("long").as("cent_id")),
      "n_index", "dig_index")
    corpus.join(index, Seq("cent_id"), "full_outer")
      .select(col("cent_id"),
        coalesce(col("n_corpus"), lit(0L)).as("n_corpus"),
        coalesce(col("n_index"), lit(0L)).as("n_index"),
        coalesce(col("dig_corpus"), lit(0L)).as("dig_corpus"),
        coalesce(col("dig_index"), lit(0L)).as("dig_index"))
      .where(col("n_corpus") =!= col("n_index") ||
        col("dig_corpus") =!= col("dig_index"))
      .orderBy(col("cent_id"))
  }

  /** Oracle for [[ivfDigestAudit]] (stride 100): quantize + argmax
    * routing, the planted −id−1 corruption, per-cell count + bit_xor
    * digests, diverged cells only. */
  val ivfDigestAuditSql: String =
    """WITH base AS (
      |  SELECT vec_id, embedding,
      |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
      |  FROM embeddings),
      | q8 AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CASE WHEN ma > 0
      |      THEN floor(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) ELSE 0.0 END) AS q
      |  FROM base),
      | cent AS (SELECT vec_id AS cent_id, q AS cq FROM q8 WHERE vec_id % 100 = 1),
      | assigned AS (
      |  SELECT vec_id, cent_id FROM (
      |    SELECT v.vec_id, c.cent_id,
      |      row_number() OVER (PARTITION BY v.vec_id
      |        ORDER BY CAST(list_dot_product(v.q, c.cq) AS BIGINT) DESC,
      |                 c.cent_id ASC) AS rn
      |    FROM q8 v CROSS JOIN cent c) WHERE rn = 1),
      | corpus AS (
      |  SELECT cent_id, CAST(count(*) AS BIGINT) AS n_corpus,
      |    CAST(bit_xor(CAST('0x' || substr(md5('ivd|' ||
      |      CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT)) AS BIGINT)
      |      AS dig_corpus
      |  FROM assigned GROUP BY cent_id),
      | idx AS (
      |  SELECT cent_id,
      |    CASE WHEN vec_id % 167 = 5 THEN -vec_id - 1 ELSE vec_id END AS vec_id
      |  FROM assigned),
      | index_side AS (
      |  SELECT cent_id, CAST(count(*) AS BIGINT) AS n_index,
      |    CAST(bit_xor(CAST('0x' || substr(md5('ivd|' ||
      |      CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT)) AS BIGINT)
      |      AS dig_index
      |  FROM idx GROUP BY cent_id)
      |SELECT c.cent_id, c.n_corpus, i.n_index, c.dig_corpus, i.dig_index
      |FROM corpus c JOIN index_side i USING (cent_id)
      |WHERE c.n_corpus <> i.n_index OR c.dig_corpus <> i.dig_index
      |ORDER BY c.cent_id""".stripMargin

  /** q188 — MMR DIVERSIFIED RETRIEVAL (maximal marginal relevance,
    * Carbonell & Goldstein 1998): plain top-k returns near-duplicates
    * of the best hit; RAG/search stacks re-select greedily by
    * `λ·relevance − (1−λ)·max-similarity-to-already-selected`. Here
    * λ = 0.7 in integer tenths (score = 7·dot(q,c) − 3·max_s dot(c,s)),
    * over the top-20 exact int8 candidates per probe, selecting 3 —
    * every dot, score, and tie-break an exact integer, so the greedy
    * cascade replays bit-for-bit in DuckDB (greedy selection is
    * sequential and tie-fragile — integer arithmetic is what makes it
    * gateable at all).
    *
    * Scale: the candidate pool is |probes|×20 (one q48 scan builds it);
    * each greedy step is a join + window over that BOUNDED pool — k
    * steps cost k·|probes|·20 rows of narrow work, the corpus is
    * touched once. The selection loop is a fixed-depth DataFrame fold,
    * not a driver loop over collected data. */
  def mmrDiversify(s: SparkSession, d: String, poolK: Int = 20,
      select: Int = 3): DataFrame = {
    val qe = quantizedEmbeddings(s, d)
    val probes = qe.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("q8").as("qv"))
    val wPool = Window.partitionBy(col("qid"))
      .orderBy(col("dot").desc, col("cid").asc)
    val cand = qe.join(broadcast(probes), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"), col("q8").as("cq"),
        vecDot(col("qv"), col("q8")).cast("long").as("dot"))
      .withColumn("rk", row_number().over(wPool))
      .where(col("rk") <= poolK)
      .select(col("qid"), col("cid"), col("cq"), col("dot"))
      .localCheckpoint(true) // bounded pool; selections iterate over it
    val wPick = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("cid").asc)
    // greedy fold: selected(i) = argmax score over the remaining pool
    var selected = cand
      .withColumn("max_sim", lit(0L))
      .withColumn("score", lit(7L) * col("dot"))
      .withColumn("rn", row_number().over(wPick)).where(col("rn") === 1)
      .select(col("qid"), col("cid"), col("cq"), col("dot"),
        col("max_sim"), col("score"), lit(1).as("sel_rank"))
    (2 to select).foreach { i =>
      val sel = selected.select(col("qid"), col("cid").as("scid"),
        col("cq").as("sq"))
      val next = cand
        .join(sel.groupBy(col("qid")).agg(collect_list(col("scid")).as("taken")),
          Seq("qid"))
        .where(!array_contains(col("taken"), col("cid")))
        .join(sel, Seq("qid"))
        .groupBy(col("qid"), col("cid"))
        .agg(first(col("cq")).as("cq"), first(col("dot")).as("dot"),
          max(vecDot(col("cq"), col("sq")).cast("long")).as("max_sim"))
        .withColumn("score", lit(7L) * col("dot") - lit(3L) * col("max_sim"))
        .withColumn("rn", row_number().over(wPick)).where(col("rn") === 1)
        .select(col("qid"), col("cid"), col("cq"), col("dot"),
          col("max_sim"), col("score"), lit(i).as("sel_rank"))
      selected = selected.unionAll(next).localCheckpoint(true)
    }
    selected.select(col("qid"), col("sel_rank"), col("cid"),
        col("dot").as("rel_dot"), col("max_sim"), col("score"))
      .orderBy(col("qid"), col("sel_rank"))
  }

  /** Oracle for [[mmrDiversify]] (pool 20, select 3, λ = 7/10): the
    * greedy cascade unrolled — every step's argmax replayed with the
    * same integer score and tie-break. */
  val mmrDiversifySql: String =
    """WITH base AS (
      |  SELECT vec_id, embedding,
      |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
      |  FROM embeddings),
      | q8 AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CASE WHEN ma > 0
      |      THEN floor(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) ELSE 0.0 END) AS q
      |  FROM base),
      | probes AS (SELECT vec_id AS qid, q AS qv FROM q8 WHERE vec_id < 5),
      | cand AS (
      |  SELECT qid, cid, cq, dot FROM (
      |    SELECT p.qid, t.vec_id AS cid, t.q AS cq,
      |      CAST(list_dot_product(p.qv, t.q) AS BIGINT) AS dot,
      |      row_number() OVER (PARTITION BY p.qid
      |        ORDER BY CAST(list_dot_product(p.qv, t.q) AS BIGINT) DESC,
      |                 t.vec_id ASC) AS rk
      |    FROM q8 t JOIN probes p ON t.vec_id <> p.qid) WHERE rk <= 20),
      | s1 AS (
      |  SELECT qid, cid, cq, dot, CAST(0 AS BIGINT) AS max_sim,
      |    7 * dot AS score FROM (
      |    SELECT *, row_number() OVER (PARTITION BY qid
      |      ORDER BY 7 * dot DESC, cid ASC) AS rn FROM cand) WHERE rn = 1),
      | r2 AS (
      |  SELECT c.qid, c.cid, c.cq, c.dot,
      |    CAST(list_dot_product(c.cq, s.cq) AS BIGINT) AS max_sim
      |  FROM cand c JOIN s1 s ON c.qid = s.qid AND c.cid <> s.cid),
      | s2 AS (
      |  SELECT qid, cid, cq, dot, max_sim, score FROM (
      |    SELECT *, 7 * dot - 3 * max_sim AS score,
      |      row_number() OVER (PARTITION BY qid
      |        ORDER BY 7 * dot - 3 * max_sim DESC, cid ASC) AS rn
      |    FROM r2) WHERE rn = 1),
      | r3 AS (
      |  SELECT c.qid, c.cid, c.cq, c.dot,
      |    greatest(CAST(list_dot_product(c.cq, a.cq) AS BIGINT),
      |             CAST(list_dot_product(c.cq, b.cq) AS BIGINT)) AS max_sim
      |  FROM cand c
      |  JOIN s1 a ON c.qid = a.qid
      |  JOIN s2 b ON c.qid = b.qid
      |  WHERE c.cid <> a.cid AND c.cid <> b.cid),
      | s3 AS (
      |  SELECT qid, cid, cq, dot, max_sim, score FROM (
      |    SELECT *, 7 * dot - 3 * max_sim AS score,
      |      row_number() OVER (PARTITION BY qid
      |        ORDER BY 7 * dot - 3 * max_sim DESC, cid ASC) AS rn
      |    FROM r3) WHERE rn = 1)
      |SELECT qid, CAST(1 AS INT) AS sel_rank, cid, dot AS rel_dot,
      |  max_sim, score FROM s1
      |UNION ALL
      |SELECT qid, 2, cid, dot, max_sim, score FROM s2
      |UNION ALL
      |SELECT qid, 3, cid, dot, max_sim, score FROM s3
      |ORDER BY qid, sel_rank""".stripMargin

  /** q190 — RETRIEVAL MRR (mean reciprocal rank by weak label): the
    * ranking-quality QA that complements q144 (recall@k says whether
    * the right neighbors RETURN; MRR says how high the first relevant
    * one RANKS — the metric retrieval evals report). Relevance = the
    * label column as weak ground truth (the q122 weak-label stance);
    * ranking = the exact int8 dot. Per probe: the best-ranked
    * same-label vector and its rank, rr_ppm = 10⁶ div rank — exact
    * integers end-to-end.
    *
    * Scale: the rank of the first relevant hit is computed WITHOUT
    * sorting the corpus — best relevant = one conditional max_by,
    * rank = 1 + count of candidates ordered strictly before it (two
    * map-side-combined aggregates over the probe-bounded scored scan).
    * A window formulation would sort n rows per probe; this shape
    * stays one pass at any corpus size. */
  def retrievalMrr(s: SparkSession, d: String): DataFrame = {
    val qe = quantizedEmbeddings(s, d)
    val lab = qe.join(Tables.embeddings(s, d)
      .select(col("vec_id"), col("label")), Seq("vec_id"))
    val probes = lab.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("q8").as("qv"),
        col("label").as("alabel"))
    val scored = lab.join(broadcast(probes), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("alabel"), col("vec_id").as("cid"), col("label"),
        vecDot(col("qv"), col("q8")).cast("long").as("dot"))
    val best = scored.where(col("label") === col("alabel"))
      .groupBy(col("qid"))
      .agg(max_by(struct(col("cid").as("id"), col("dot").as("d")),
        struct(col("dot"), -col("cid"))).as("b"))
      .select(col("qid"), col("b.id").as("rel_id"), col("b.d").as("rel_dot"))
    scored.join(broadcast(best), Seq("qid"))
      .groupBy(col("qid"), col("rel_id"), col("rel_dot"))
      .agg((lit(1L) + sum((col("dot") > col("rel_dot") ||
        (col("dot") === col("rel_dot") && col("cid") < col("rel_id")))
        .cast("long"))).as("first_rel_rank"))
      .select(col("qid"), col("rel_id"), col("rel_dot"),
        col("first_rel_rank"),
        expr("1000000 div first_rel_rank").as("rr_ppm"))
      .orderBy(col("qid"))
  }

  /** Oracle for [[retrievalMrr]]: quantize + the same-label argmax +
    * the count-before rank rule, replayed exactly. */
  val retrievalMrrSql: String =
    """WITH base AS (
      |  SELECT vec_id, embedding, label,
      |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
      |  FROM embeddings),
      | q8 AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding, x -> CASE WHEN ma > 0
      |      THEN floor(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) ELSE 0.0 END) AS q
      |  FROM base),
      | probes AS (SELECT vec_id AS qid, q AS qv, label AS alabel
      |            FROM q8 WHERE vec_id < 5),
      | scored AS (
      |  SELECT p.qid, p.alabel, t.vec_id AS cid, t.label,
      |    CAST(list_dot_product(p.qv, t.q) AS BIGINT) AS dot
      |  FROM q8 t JOIN probes p ON t.vec_id <> p.qid),
      | best AS (
      |  SELECT qid, cid AS rel_id, dot AS rel_dot FROM (
      |    SELECT qid, cid, dot, row_number() OVER (PARTITION BY qid
      |      ORDER BY dot DESC, cid ASC) AS rn
      |    FROM scored WHERE label = alabel) WHERE rn = 1)
      |SELECT s.qid, b.rel_id, b.rel_dot,
      |  CAST(1 + count(*) FILTER (WHERE s.dot > b.rel_dot OR
      |    (s.dot = b.rel_dot AND s.cid < b.rel_id)) AS BIGINT)
      |    AS first_rel_rank,
      |  CAST(1000000 // (1 + count(*) FILTER (WHERE s.dot > b.rel_dot OR
      |    (s.dot = b.rel_dot AND s.cid < b.rel_id))) AS BIGINT) AS rr_ppm
      |FROM scored s JOIN best b USING (qid)
      |GROUP BY s.qid, b.rel_id, b.rel_dot
      |ORDER BY s.qid""".stripMargin

  /** q195 — RETRIEVAL nDCG@k (graded relevance): the third leg of the
    * retrieval-QA panel — q144 recall@k (do the right neighbors
    * return), q190 MRR (how high does the FIRST relevant one rank),
    * nDCG@k (how well is the WHOLE top-k ordered when relevance is
    * graded) — the metric retrieval eval suites actually publish.
    * Graded relevance from the label column (the q122/q190 weak-label
    * stance): rel 2 = same label, rel 1 = adjacent label (|Δ| = 1 on
    * the ordinal label space), rel 0 otherwise; gain = 2^rel − 1 ∈
    * {3, 1, 0}, the standard exponential gain.
    *
    * Exactness: the log2 discount is 1-bit-quantized via
    * binary-rendering length (the q113 trick — ilog2(r+1) =
    * length(bin(r+1)) − 1, identical in both engines), and the
    * per-position weight is 6 div ilog2(r+1): ilog2 ∈ {1, 2, 3} for
    * r ≤ 14 all divide 6, so every DCG term is an EXACT integer —
    * no truncation anywhere, the whole metric replays bit-for-bit.
    * ndcg_ppm = 10⁶·dcg div idcg (idcg guarded ≥ 1: a probe with no
    * graded-relevant hit reports 0, both engines agree).
    *
    * The spec holds the separating fixture: two retrievals whose
    * first-relevant ranks tie (MRR equal) but whose tail ordering
    * differs — nDCG ranks them, MRR cannot.
    *
    * Scale: rides [[quantizedTopK]] (probe-bounded candidate scan, k
    * rows per probe out); everything after is arithmetic on 5·k rows.
    * The label join is a broadcast of the k·probes id set against the
    * label table — candidate-bounded, never corpus × corpus. */
  def retrievalNdcg(s: SparkSession, d: String, k: Int = 10): DataFrame = {
    val labels = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
    val topk = quantizedTopK(s, d, k)
    val graded = topk
      .join(labels.select(col("vec_id").as("qid"), col("label").as("alabel")),
        Seq("qid"))
      .join(labels.select(col("vec_id").as("cid"), col("label").as("clabel")),
        Seq("cid"))
      .withColumn("gain",
        when(col("clabel") === col("alabel"), 3L)
          .when(abs(col("clabel") - col("alabel")) === 1, 1L)
          .otherwise(0L))
    ndcgOn(graded)
  }

  /** The exact-integer nDCG reduction over any (qid, cid, rank, gain)
    * frame — extracted so the spec can feed the hand fixture where two
    * retrievals tie on MRR but nDCG separates them. */
  private[graft] def ndcgOn(graded: DataFrame): DataFrame = {
    // ideal ordering: the same k gains sorted desc. Tie order cannot
    // change idcg (equal gains carry equal terms); cid tiebreak keeps
    // row_number deterministic anyway (the suite's replay rule).
    val wIdeal = Window.partitionBy(col("qid"))
      .orderBy(col("gain").desc, col("cid").asc)
    graded
      .withColumn("irank", row_number().over(wIdeal))
      .withColumn("w", expr("6 div (length(bin(rank + 1)) - 1)"))
      .withColumn("iw", expr("6 div (length(bin(irank + 1)) - 1)"))
      .groupBy(col("qid"))
      .agg(sum(when(col("gain") > 0, 1L).otherwise(0L)).as("n_rel"),
        sum(col("gain") * col("w")).as("dcg"),
        sum(col("gain") * col("iw")).as("idcg"))
      .withColumn("ndcg_ppm",
        expr("(1000000 * dcg) div greatest(idcg, 1L)"))
      .orderBy(col("qid"))
  }

  /** Oracle for [[retrievalNdcg]]: quantize → probe dots → top-10 →
    * graded gains → the 6-div-ilog2 exact discount, replayed verbatim. */
  val retrievalNdcgSql: String =
    """WITH base AS (
      |  SELECT vec_id, embedding, label,
      |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
      |  FROM embeddings),
      | q8 AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding, x -> CASE WHEN ma > 0
      |      THEN floor(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) ELSE 0.0 END) AS q
      |  FROM base),
      | dots AS (
      |  SELECT p.vec_id AS qid, p.label AS alabel,
      |    c.vec_id AS cid, c.label AS clabel,
      |    CAST(list_dot_product(p.q, c.q) AS BIGINT) AS dot
      |  FROM q8 p JOIN q8 c ON p.vec_id < 5 AND c.vec_id <> p.vec_id),
      | topk AS (
      |  SELECT qid, cid, alabel, clabel,
      |    CAST(row_number() OVER (PARTITION BY qid
      |      ORDER BY dot DESC, cid ASC) AS BIGINT) AS rank
      |  FROM dots QUALIFY rank <= 10),
      | graded AS (
      |  SELECT qid, cid, rank,
      |    CASE WHEN clabel = alabel THEN 3
      |         WHEN abs(clabel - alabel) = 1 THEN 1 ELSE 0 END AS gain
      |  FROM topk),
      | ideal AS (
      |  SELECT qid, cid, rank, gain,
      |    CAST(row_number() OVER (PARTITION BY qid
      |      ORDER BY gain DESC, cid ASC) AS BIGINT) AS irank
      |  FROM graded),
      | agg AS (
      |  SELECT qid,
      |    CAST(sum(CASE WHEN gain > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_rel,
      |    CAST(sum(gain * (6 // (length(bin(rank + 1)) - 1))) AS BIGINT)
      |      AS dcg,
      |    CAST(sum(gain * (6 // (length(bin(irank + 1)) - 1))) AS BIGINT)
      |      AS idcg
      |  FROM ideal GROUP BY qid)
      |SELECT qid, n_rel, dcg, idcg,
      |  CAST((1000000 * dcg) // greatest(idcg, 1) AS BIGINT) AS ndcg_ppm
      |FROM agg ORDER BY qid""".stripMargin

  /** q191 — k-NN GRAPH STATS (mutual-neighbor triangles / clustering
    * coefficient): the geometry audit behind SemDeDup-class semantic
    * dedup — a high clustering coefficient says the embedding space has
    * real local structure (neighbors of neighbors are neighbors), a
    * near-zero one says the "clusters" are noise and a semantic-dedup
    * τ calibrated on them is fiction. Build: each vector's top-3
    * same-cell neighbors by exact integer dot (the q115/q126 in-cell
    * shape — candidates bounded by cell occupancy, never all-pairs);
    * keep MUTUAL edges (both directions, canonical a < b); count
    * wedges Σ C(deg, 2) and closed triangles; global clustering =
    * 3·triangles/wedges in integer ppm. Every step exact-integer with
    * deterministic ties, so the whole graph — and therefore the
    * triangle count — replays bit-for-bit in DuckDB.
    *
    * Scale: in-cell kNN is Σ|cell|² dot pairs — with cells ∝ √n (the
    * suite's IVF sizing) that is n^1.5 bounded by occupancy, exactly
    * SemDeDup's published cost envelope (q115); the triangle join runs
    * on the mutual-edge set (≤ 3n edges, degree ≤ 3), so closure
    * checks are degree-bounded joins, never quadratic. */
  def knnGraphStats(s: SparkSession, d: String, k: Int = 3): DataFrame = {
    val qe = quantizedEmbeddings(s, d)
    val cent = qe.where(col("vec_id") % 100 === 1)
      .select(col("vec_id").as("cent_id"), col("q8").as("cq"))
    val assigned = assignCells(s, qe, cent)
      .select(col("vec_id"), col("q8"), col("cent_id"))
    val wTop = Window.partitionBy(col("a"))
      .orderBy(col("dot").desc, col("b").asc)
    val directed = assigned.as("x").join(assigned.as("y"),
        col("x.cent_id") === col("y.cent_id") &&
          col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
        vecDot(col("x.q8"), col("y.q8")).cast("long").as("dot"))
      .withColumn("rk", row_number().over(wTop))
      .where(col("rk") <= k)
      .select(col("a"), col("b"))
    val mutual = directed.as("f")
      .join(directed.as("r"),
        col("f.a") === col("r.b") && col("f.b") === col("r.a"))
      .where(col("f.a") < col("f.b"))
      .select(col("f.a").as("a"), col("f.b").as("b"))
      .localCheckpoint(true) // small edge set; reused by 3 legs below
    val deg = mutual.select(col("a").as("v")).unionAll(
        mutual.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val wedges = deg.agg(coalesce(sum(expr("deg * (deg - 1) div 2")), lit(0L))
      .as("n_wedges"))
    val tri = mutual.as("e1")
      .join(mutual.as("e2"), col("e1.b") === col("e2.a"))
      .join(mutual.as("e3"),
        col("e1.a") === col("e3.a") && col("e2.b") === col("e3.b"))
      .agg(count(lit(1)).as("n_triangles"))
    val nodes = qe.agg(count(lit(1)).as("n_nodes"))
    val edges = mutual.agg(count(lit(1)).as("n_edges_mutual"))
    nodes.crossJoin(edges).crossJoin(wedges).crossJoin(tri)
      .select(col("n_nodes"), col("n_edges_mutual"), col("n_wedges"),
        col("n_triangles"),
        when(col("n_wedges") > 0,
          expr("(3000000 * n_triangles) div n_wedges"))
          .otherwise(lit(null)).as("clustering_ppm"))
  }

  /** Oracle for [[knnGraphStats]] (k=3, stride-100 grid): quantize +
    * argmax routing + in-cell top-3 + mutual edges + wedge/triangle
    * counts, replayed exactly. */
  val knnGraphStatsSql: String =
    """WITH base AS (
      |  SELECT vec_id, embedding,
      |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
      |  FROM embeddings),
      | q8 AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CASE WHEN ma > 0
      |      THEN floor(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) ELSE 0.0 END) AS q
      |  FROM base),
      | cent AS (SELECT vec_id AS cent_id, q AS cq FROM q8 WHERE vec_id % 100 = 1),
      | assigned AS (
      |  SELECT vec_id, q, cent_id FROM (
      |    SELECT v.vec_id, v.q, c.cent_id,
      |      row_number() OVER (PARTITION BY v.vec_id
      |        ORDER BY CAST(list_dot_product(v.q, c.cq) AS BIGINT) DESC,
      |                 c.cent_id ASC) AS rn
      |    FROM q8 v CROSS JOIN cent c) WHERE rn = 1),
      | directed AS (
      |  SELECT a, b FROM (
      |    SELECT x.vec_id AS a, y.vec_id AS b,
      |      row_number() OVER (PARTITION BY x.vec_id
      |        ORDER BY CAST(list_dot_product(x.q, y.q) AS BIGINT) DESC,
      |                 y.vec_id ASC) AS rk
      |    FROM assigned x JOIN assigned y
      |      ON x.cent_id = y.cent_id AND x.vec_id <> y.vec_id) WHERE rk <= 3),
      | mutual AS (
      |  SELECT f.a, f.b FROM directed f
      |  JOIN directed r ON f.a = r.b AND f.b = r.a
      |  WHERE f.a < f.b),
      | deg AS (
      |  SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
      |    SELECT a AS v FROM mutual UNION ALL SELECT b FROM mutual)
      |  GROUP BY v),
      | wg AS (SELECT CAST(coalesce(sum(deg * (deg - 1) // 2), 0) AS BIGINT)
      |        AS n_wedges FROM deg),
      | tri AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_triangles
      |  FROM mutual e1
      |  JOIN mutual e2 ON e1.b = e2.a
      |  JOIN mutual e3 ON e1.a = e3.a AND e2.b = e3.b)
      |SELECT
      |  CAST((SELECT count(*) FROM q8) AS BIGINT) AS n_nodes,
      |  CAST((SELECT count(*) FROM mutual) AS BIGINT) AS n_edges_mutual,
      |  (SELECT n_wedges FROM wg) AS n_wedges,
      |  (SELECT n_triangles FROM tri) AS n_triangles,
      |  CASE WHEN (SELECT n_wedges FROM wg) > 0
      |    THEN CAST((3000000 * (SELECT n_triangles FROM tri))
      |         // (SELECT n_wedges FROM wg) AS BIGINT)
      |    ELSE NULL END AS clustering_ppm""".stripMargin

  // ---------------------------------------------------------------------
  // q202: matryoshka (prefix-dimension) truncation recall audit
  // ---------------------------------------------------------------------

  /** Matryoshka truncation audit (Kusupati et al., NeurIPS 2022 —
    * "Matryoshka Representation Learning"): how much top-k recall
    * survives truncating every embedding to its FIRST d dimensions, for
    * d ∈ {8, 16, 32, 64}? Production retrieval stacks ask exactly this
    * before shipping a shortened index (a 16-dim prefix is a 4× smaller
    * index and ~4× the scan throughput) — the answer decides whether
    * the cheap index is usable at all, per corpus, not per paper.
    *
    * Exactness: everything rides the int8 grid ([[quantizedEmbeddings]]),
    * so every dot — full or prefix — is an exact integer (≤ 64·127²,
    * order-independent in double) and both rankings are deterministic
    * ((dot desc, cid asc), the q48 discipline). The d = 64 row is the
    * identity anchor: its recall is 10⁶ ppm by construction, so a gate
    * pass proves the truncated legs ran against the right truth.
    *
    * Scale: the dims fan-out lives on the PROBE side only (|probes| ×
    * |dims| = 20 broadcast rows) — the corpus is scanned ONCE and each
    * vector emits 20 scored rows, partial-sorted per (dims, qid) group
    * by the window's WindowGroupLimit top-k pruning; no corpus×corpus
    * pair ever exists. Same cost class as q48/q144 at any n.
    *
    * Output: one row per (dims, qid) — n_hit of the full-dim top-k
    * recovered by the prefix-dim top-k, recall in integer ppm. */
  def matryoshkaRecall(s: SparkSession, d: String, k: Int = 10): DataFrame = {
    val qe = quantizedEmbeddings(s, d)
    val probes = qe.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("q8").as("qv"))
    val wT = Window.partitionBy(col("qid"))
      .orderBy(col("dot").desc, col("cid").asc)
    val truth = qe.join(broadcast(probes), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"),
        vecDot(col("qv"), col("q8")).cast("long").as("dot"))
      .withColumn("rank", row_number().over(wT)).where(col("rank") <= k)
      .select(col("qid"), col("cid"))
    val probesD = probes.withColumn("dims",
      explode(typedLit(Seq(8L, 16L, 32L, 64L))))
    val wD = Window.partitionBy(col("dims"), col("qid"))
      .orderBy(col("dot").desc, col("cid").asc)
    val trunc = qe.join(broadcast(probesD), col("vec_id") =!= col("qid"))
      .select(col("dims"), col("qid"), col("vec_id").as("cid"),
        vecDot(slice(col("qv"), lit(1), col("dims")),
               slice(col("q8"), lit(1), col("dims")))
          .cast("long").as("dot"))
      .withColumn("rank", row_number().over(wD)).where(col("rank") <= k)
      .select(col("dims"), col("qid"), col("cid"))
    val hits = trunc.join(truth, Seq("qid", "cid"))
      .groupBy(col("dims"), col("qid")).agg(count(lit(1)).as("n_hit"))
    val per = truth.groupBy(col("qid")).agg(count(lit(1)).as("n_truth"))
      .crossJoin(broadcast(
        s.range(1).select(explode(typedLit(Seq(8L, 16L, 32L, 64L))).as("dims"))))
    per.join(hits, Seq("dims", "qid"), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .withColumn("recall_ppm", expr("(1000000 * n_hit) div n_truth"))
      .select(col("dims"), col("qid"), col("n_truth"), col("n_hit"),
        col("recall_ppm"))
      .orderBy(col("dims"), col("qid"))
  }

  /** Oracle for [[matryoshkaRecall]]: one quantize, the full-dim truth
    * and the four prefix-dim rankings from the same base, intersect per
    * (dims, qid), ppm by `//`. `list_slice(q, 1, d)` ≡ Spark's
    * `slice(q, 1, d)` (1-based, d elements). */
  val matryoshkaRecallSql: String =
    """WITH base AS (
      |  SELECT vec_id, embedding,
      |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
      |  FROM embeddings),
      | q8 AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CASE WHEN ma > 0
      |      THEN floor(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) ELSE 0.0 END) AS q
      |  FROM base),
      | probes0 AS (SELECT vec_id AS qid, q AS qv FROM q8 WHERE vec_id < 5),
      | truth AS (
      |  SELECT qid, cid FROM (
      |    SELECT p.qid, v.vec_id AS cid,
      |      row_number() OVER (PARTITION BY p.qid
      |        ORDER BY CAST(list_dot_product(p.qv, v.q) AS BIGINT) DESC,
      |                 v.vec_id ASC) AS rank
      |    FROM q8 v JOIN probes0 p ON v.vec_id <> p.qid) WHERE rank <= 10),
      | dimsr AS (SELECT CAST(dims AS BIGINT) AS dims
      |           FROM (VALUES (8), (16), (32), (64)) AS t(dims)),
      | trunc AS (
      |  SELECT dims, qid, cid FROM (
      |    SELECT dm.dims, p.qid, v.vec_id AS cid,
      |      row_number() OVER (PARTITION BY dm.dims, p.qid
      |        ORDER BY CAST(list_dot_product(
      |            list_slice(p.qv, 1, CAST(dm.dims AS INT)),
      |            list_slice(v.q, 1, CAST(dm.dims AS INT))) AS BIGINT) DESC,
      |                 v.vec_id ASC) AS rank
      |    FROM q8 v JOIN probes0 p ON v.vec_id <> p.qid
      |    CROSS JOIN dimsr dm) WHERE rank <= 10),
      | hits AS (
      |  SELECT t.dims, t.qid, CAST(count(*) AS BIGINT) AS n_hit
      |  FROM trunc t JOIN truth u ON t.qid = u.qid AND t.cid = u.cid
      |  GROUP BY t.dims, t.qid),
      | per AS (
      |  SELECT dm.dims, tq.qid, tq.n_truth
      |  FROM dimsr dm CROSS JOIN (
      |    SELECT qid, CAST(count(*) AS BIGINT) AS n_truth
      |    FROM truth GROUP BY qid) tq)
      |SELECT per.dims, per.qid, per.n_truth,
      |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
      |  CAST((1000000 * coalesce(h.n_hit, 0)) // per.n_truth AS BIGINT)
      |    AS recall_ppm
      |FROM per LEFT JOIN hits h ON per.dims = h.dims AND per.qid = h.qid
      |ORDER BY per.dims, per.qid""".stripMargin

  // ---------------------------------------------------------------------
  // q208: semantic decontamination (embedding-space benchmark leakage)
  // ---------------------------------------------------------------------

  /** Semantic benchmark decontamination — the THIRD decontamination
    * leg: q69 catches verbatim 3-gram overlap, q116 catches lexically
    * near-duplicate paraphrases (MinHash-LSH), this catches SEMANTIC
    * leakage — eval content re-expressed in different words, visible
    * only in embedding space (the practice production model cards
    * describe as embedding-similarity decontamination).
    *
    * Benchmark = the FIXED-SIZE id range `vec_id < 64` — unlike a mod-
    * stride, a real eval suite does not grow with the corpus, and the
    * fixed bound is what makes the scale shape honest: the bench side
    * BROADCASTS at any corpus size and the training corpus streams once
    * through a 64-way fan-out collapsed by max_by — O(64n), no
    * train-side shuffle, the q48/q202 probe-bounded pattern.
    *
    * Planted leaks (the q157/q187 canary convention, negative ids):
    * exact copies of the 3 smallest bench vectors re-keyed as training
    * rows — they MUST flag at cos = 1.0; an engine that loses them has
    * broken the one case the operator exists for.
    *
    * Determinism: cosine rounded to 4dp before both the argmax and the
    * threshold (the q40/q41 rounded-cosine rule), ties to the smallest
    * bench id. Output = flagged training rows only. */
  def semanticDecontaminate(s: SparkSession, d: String,
      tau: Double = 0.98): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val bench = emb.where(col("vec_id") < 64)
      .select(col("vec_id").as("bench_id"), col("embedding").as("bv"),
        vecNorm(col("embedding")).as("bn"))
    val canaries = emb.where(col("vec_id") < 3)
      .select((-col("vec_id") - 1).as("vec_id"), col("embedding"))
    val train = emb.where(col("vec_id") >= 64)
      .select(col("vec_id"), col("embedding"))
      .unionByName(canaries)
      .withColumn("tn", vecNorm(col("embedding")))
    train.crossJoin(broadcast(bench))
      .select(col("vec_id"), col("bench_id"),
        round(vecDot(col("embedding"), col("bv")) / (col("tn") * col("bn")), 4)
          .as("cos"))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("bench_id"), col("cos")),
        struct(col("cos"), -col("bench_id"))).as("best"))
      .select(col("vec_id"), col("best.bench_id").as("bench_id"),
        col("best.cos").as("cos"))
      .where(col("cos") >= tau)
      .orderBy(col("vec_id"))
  }

  /** Oracle for [[semanticDecontaminate]]: same bench slice, canary
    * splice, rounded-cosine argmax (ties to smallest bench id), and
    * threshold, replayed in DuckDB. */
  val semanticDecontaminateSql: String =
    """WITH bench AS (
      |  SELECT vec_id AS bench_id, embedding AS bv,
      |    sqrt(list_dot_product(embedding, embedding)) AS bn
      |  FROM embeddings WHERE vec_id < 64),
      | train AS (
      |  SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 64
      |  UNION ALL
      |  SELECT -vec_id - 1, embedding FROM embeddings WHERE vec_id < 3),
      | scored AS (
      |  SELECT t.vec_id, b.bench_id,
      |    round(list_dot_product(t.embedding, b.bv) /
      |      (sqrt(list_dot_product(t.embedding, t.embedding)) * b.bn), 4)
      |      AS cos
      |  FROM train t CROSS JOIN bench b),
      | best AS (
      |  SELECT vec_id, bench_id, cos FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY cos DESC, bench_id ASC) AS rn
      |    FROM scored) WHERE rn = 1)
      |SELECT vec_id, bench_id, cos FROM best WHERE cos >= 0.98
      |ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------------
  // q203: k-center greedy coreset selection
  // ---------------------------------------------------------------------

  /** k-center coreset selection — Gonzalez (1985) farthest-point
    * traversal, the greedy 2-approximation to the k-center cover, used
    * by Sener & Savarese (ICLR 2018) as the core-set criterion for
    * selecting training data: pick the k points whose cover radius over
    * the corpus is (provably near-)minimal, i.e. the most GEOMETRICALLY
    * SPREAD subset, then report per-center population and cover radius.
    * Where k-means (q92) summarizes density, k-center bounds the worst
    * case — the criterion that keeps tail modes in the selected set.
    *
    * Exactness: greedy runs on the int8 grid with integer squared-L2
    * (≤ 64·254² < 2³², exact in Long/double), deterministic seed (the
    * smallest candidate vec_id) and ties to the smallest id — the whole
    * traversal is reproducible arithmetic, replayed step-by-step by the
    * oracle's chained CTEs (the kmeansIterSql convention).
    *
    * Scale: greedy is inherently sequential, so it runs DRIVER-SIDE
    * over a BOUNDED candidate pool — the stride-100 grid (≤ 64 rows,
    * the q144/q191 anchor convention; the kmeansFit bounded-collect
    * rule). The corpus-sized work is ONE scan: assign every vector to
    * its nearest selected center via an 8-way broadcast fan-out
    * collapsed by a map-side-combined min_by hash agg (8 = O(1) rows
    * per vector; the shuffle carries ≤ |centers| rows per partition).
    * Report is |centers|-bounded. */
  def kCenterCoreset(s: SparkSession, d: String, k: Int = 8): DataFrame = {
    val qe = quantizedEmbeddings(s, d)
    val cand = fixedCells(qe).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).map(_.toLong).toArray))
      .sortBy(_._1)
    require(cand.nonEmpty, "kCenterCoreset: empty candidate pool")
    val selected = kCenterGreedy(cand, k)
    import s.implicits._
    val centers = selected.zipWithIndex.map { case ((id, v), i) =>
      (i + 1L, id, v.map(_.toDouble).toSeq, v.map(x => x * x).sum.toDouble) }
      .toSeq.toDF("step", "cent_id", "cq", "cc")
    // d2 = ‖x‖² + ‖c‖² − 2x·c through the codegen'd DotProduct kernel —
    // the interpreted zip_with/aggregate HOF form of the same integer
    // was the measured sf10 hot path (17 s warm min vs ~3 s; every term
    // exact on the grid). ‖x‖² computed once per row, not per center.
    val dist = (col("xx") + col("cc")
      - lit(2.0) * vecDot(col("q8"), col("cq"))).cast("long")
    val assigned = qe.withColumn("xx", vecDot(col("q8"), col("q8")))
      .crossJoin(broadcast(centers))
      .select(col("vec_id"), col("step"), col("cent_id"), dist.as("d2"))
      .groupBy(col("vec_id"))
      .agg(min_by(struct(col("step"), col("cent_id"), col("d2")),
        struct(col("d2"), col("cent_id"))).as("best"))
      .select(col("best.step").as("step"), col("best.cent_id").as("cent_id"),
        col("best.d2").as("d2"))
    assigned.groupBy(col("step"), col("cent_id"))
      .agg(count(lit(1)).as("n"), max(col("d2")).as("radius2"),
        sum(col("d2")).cast("long").as("sum_d2"))
      .orderBy(col("step"))
  }

  /** The farthest-point traversal itself, exposed for the spec's hand
    * fixtures: seed = the first (smallest-id) candidate, then repeat
    * "pick the candidate maximizing min squared-L2 to the selected set,
    * ties to the smallest id" until k centers (or the pool runs out).
    * Returns centers in SELECTION ORDER. Pure integer arithmetic. */
  private[graft] def kCenterGreedy(cand: Array[(Long, Array[Long])],
      k: Int): Seq[(Long, Array[Long])] = {
    def d2(a: Array[Long], b: Array[Long]): Long = {
      var i = 0; var acc = 0L
      while (i < a.length) { val df = a(i) - b(i); acc += df * df; i += 1 }
      acc
    }
    val selected = scala.collection.mutable.ArrayBuffer(cand.head)
    while (selected.length < math.min(k, cand.length)) {
      val picked = cand.iterator
        .filter(c => !selected.exists(_._1 == c._1))
        .map(c => (c, selected.iterator.map(sl => d2(c._2, sl._2)).min))
        .maxBy { case ((id, _), dist) => (dist, -id) }._1
      selected += picked
    }
    selected.toSeq
  }

  /** Oracle for [[kCenterCoreset]]: the greedy traversal replayed as
    * chained CTEs — sel1 = smallest candidate id; sel(i) = the candidate
    * maximizing min squared-L2 to everything selected so far (ties to
    * the smallest id); then the corpus-wide nearest-center assignment
    * and the per-center rollup. Squared L2 from three dot products
    * (‖x‖² + ‖c‖² − 2x·c), every term an exact integer on the grid. */
  val kCenterCoresetSql: String = {
    val head =
      """WITH base AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
        |  FROM embeddings),
        | q8 AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CASE WHEN ma > 0
        |      THEN floor(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) ELSE 0.0 END) AS q
        |  FROM base),
        | cand AS (SELECT vec_id, q FROM q8
        |          WHERE vec_id % 100 = 0 AND vec_id < 6400),
        | sel1 AS (SELECT vec_id, q, CAST(1 AS BIGINT) AS step
        |          FROM cand ORDER BY vec_id LIMIT 1),
        | selu1 AS MATERIALIZED (SELECT * FROM sel1)""".stripMargin
    val steps = (2 to 8).map { i =>
      val prev = s"selu${i - 1}"
      s""",
         | sel$i AS (
         |  SELECT vec_id, q, CAST($i AS BIGINT) AS step FROM (
         |    SELECT c.vec_id, c.q,
         |      min(CAST(list_dot_product(c.q, c.q) + list_dot_product(s.q, s.q)
         |          - 2 * list_dot_product(c.q, s.q) AS BIGINT)) AS md
         |    FROM cand c CROSS JOIN $prev s
         |    WHERE c.vec_id NOT IN (SELECT vec_id FROM $prev)
         |    GROUP BY c.vec_id, c.q) t(vec_id, q, md)
         |  ORDER BY md DESC, vec_id ASC LIMIT 1),
         | selu$i AS MATERIALIZED (SELECT vec_id, q, step FROM $prev
         |            UNION ALL SELECT vec_id, q, step FROM sel$i)""".stripMargin
    }.mkString
    val tail =
      """,
        | centers AS (SELECT step, vec_id AS cent_id, q AS cq FROM selu8),
        | assigned AS (
        |  SELECT step, cent_id, d2 FROM (
        |    SELECT c.step, c.cent_id,
        |      CAST(list_dot_product(v.q, v.q) + list_dot_product(c.cq, c.cq)
        |           - 2 * list_dot_product(v.q, c.cq) AS BIGINT) AS d2,
        |      row_number() OVER (PARTITION BY v.vec_id
        |        ORDER BY CAST(list_dot_product(v.q, v.q)
        |                 + list_dot_product(c.cq, c.cq)
        |                 - 2 * list_dot_product(v.q, c.cq) AS BIGINT) ASC,
        |                 c.cent_id ASC) AS rn
        |    FROM q8 v CROSS JOIN centers c) WHERE rn = 1)
        |SELECT step, cent_id, CAST(count(*) AS BIGINT) AS n,
        |  CAST(max(d2) AS BIGINT) AS radius2, CAST(sum(d2) AS BIGINT) AS sum_d2
        |FROM assigned GROUP BY step, cent_id ORDER BY step""".stripMargin
    head + steps + tail
  }
}
