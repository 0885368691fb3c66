package graft.ops

import graft.{Scratch, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic sampling operators — the training-data curation staple.
  *
  * `sample()`/`randomSplit()` are seed-stable only for a FIXED partition
  * layout: repartition the input (or rescale the cluster) and the sample
  * changes. Curation pipelines need the opposite contract: membership is
  * a pure function of the ROW, so the sample is identical across runs,
  * partitionings, engines — and auditable after the fact. The standard
  * trick: hash a stable row key, keep rows whose hash bucket falls under
  * the stratum's rate.
  *
  * Scale: a narrow map + filter — no shuffle, no state, pushes nothing to
  * the driver; at 100 TB the cost is the scan. The md5-derived bucket is
  * the repo's portable-hash pattern ([[Dedup]]), so the exact sample
  * replays in DuckDB for the oracle.
  */
object Sampling {

  /** 60-bit integer from the row key via md5 — portable verbatim to
    * DuckDB's `CAST('0x'||substr(md5(k),1,15) AS BIGINT)`. */
  def hashBucket(key: Column, buckets: Int): Column =
    conv(substring(md5(key), 1, 15), 16, 10).cast("long") % buckets

  /** Keep a per-stratum percentage of rows, membership decided by
    * `hashBucket(key) < rate(stratum)`. Unknown strata drop (rate 0). */
  def stratifiedSample(df: DataFrame, key: Column, stratum: Column,
                       ratesPct: Map[String, Int]): DataFrame = {
    val rate = ratesPct.foldLeft(lit(0)) { case (acc, (k, v)) =>
      when(stratum === k, lit(v)).otherwise(acc)
    }
    df.where(hashBucket(key, 100) < rate)
  }

  /** Gate face (q47): curation-style downsample of `events` — keep all
    * purchases, half of signups, progressively less of the noisy strata.
    * The output is the sampled ROWS (not a summary): the oracle hash
    * replays membership row-for-row, proving the sample is deterministic
    * and engine-independent. */
  val gateRates: Map[String, Int] = Map(
    "purchase" -> 100, "signup" -> 50, "click" -> 20, "view" -> 10, "error" -> 5)

  def eventSample(s: SparkSession, d: String): DataFrame =
    stratifiedSample(Tables.events(s, d),
      key = col("event_id").cast("string"), stratum = col("event_type"),
      ratesPct = gateRates)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_millis(col("ts")).as("ts_ms"), col("value"))
      .orderBy(col("event_id"))

  val eventSampleSql: String =
    """SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms, value
      |FROM events
      |WHERE CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT) % 100
      |  < CASE event_type WHEN 'purchase' THEN 100 WHEN 'signup' THEN 50
      |                    WHEN 'click' THEN 20 WHEN 'view' THEN 10
      |                    WHEN 'error' THEN 5 ELSE 0 END
      |ORDER BY event_id""".stripMargin

  /** GROUP-AWARE train/val/test split: the split is a hash of the GROUP
    * key (here `source`), not the row — every row of a group lands in the
    * same split. This is the leakage-prevention contract ML eval depends
    * on: near-duplicate documents overwhelmingly share a source/domain,
    * and row-hash splitting puts one twin in train and the other in test.
    * Same determinism story as [[stratifiedSample]]: pure row function,
    * no shuffle, layout-independent, engine-replayable. */
  def groupSplit(df: DataFrame, group: Column,
                 trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    val h = hashBucket(group, 100)
    df.withColumn("split",
      when(h < trainPct, "train")
        .when(h < trainPct + valPct, "val")
        .otherwise("test"))
  }

  /** Gate face (q39). */
  def docSplit(s: SparkSession, d: String): DataFrame =
    groupSplit(Tables.documents(s, d), col("source"))
      .select(col("doc_id"), col("source"), col("split"))
      .orderBy(col("doc_id"))

  val docSplitSql: String =
    """SELECT doc_id, source,
      |  CASE WHEN CAST('0x' || substr(md5(source), 1, 15) AS BIGINT) % 100 < 80
      |       THEN 'train'
      |       WHEN CAST('0x' || substr(md5(source), 1, 15) AS BIGINT) % 100 < 90
      |       THEN 'val' ELSE 'test' END AS split
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Sequence packing (q49): concatenate the corpus in doc_id order and
    * chunk at a fixed token budget — each document gets its global start
    * offset, its context-window bin, and its offset within the bin (the
    * LLM-pretraining "pack documents into fixed-length sequences" step;
    * budget-straddling docs are split at the boundary, which is exactly
    * what concat-and-chunk training does).
    *
    * Scale: the naive formulation is ONE GLOBAL running-sum window —
    * a single-partition sort at 100 TB. This is the classic distributed
    * prefix-sum instead, TWO levels deep: (1) per-range partial token
    * sums (hash-agg over doc_id div B), (2) per-SUPER-range sums (rng
    * div B), (3) a running offset over the super-range summaries — the
    * ONLY unpartitioned ordered pass, over n/B² rows (at B=1000 that is
    * 10⁵ summaries for 10¹¹ docs — trivially one task), (4) within-super
    * running sums over range summaries PARTITIONED by super-range (≤B
    * rows per partition), (5) within-range running sums partitioned by
    * range, shifted by the composed offset. The ORACLE runs the naive
    * global window — different algorithm, same numbers. */
  def sequencePack(s: SparkSession, d: String,
                   budgetTokens: Long = 512L, rangeDocs: Long = 1000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(s, d).select(col("doc_id"),
      size(TextAnalysis.words(col("text"))).cast("long").as("n_tokens"))
      .withColumn("rng", expr(s"doc_id div ${rangeDocs}L"))
    val rangeSums = toks.groupBy(col("rng")).agg(sum(col("n_tokens")).as("rtok"))
      .withColumn("srng", expr(s"rng div ${rangeDocs}L"))
    // level 2: super-range totals; the one global ordered window runs
    // over n/B² rows, never more
    val superSums = rangeSums.groupBy(col("srng")).agg(sum(col("rtok")).as("stok"))
    val wSupers = Window.orderBy(col("srng"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val superOffs = superSums
      .withColumn("soff", coalesce(sum(col("stok")).over(wSupers), lit(0L)))
      .select(col("srng"), col("soff"))
    // level 1: within each super-range (≤B range summaries), running sum
    // partitioned by srng — no single-partition pass
    val wInSuper = Window.partitionBy(col("srng")).orderBy(col("rng"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val rangeOffs = rangeSums.join(broadcast(superOffs), "srng")
      .withColumn("roff",
        col("soff") + coalesce(sum(col("rtok")).over(wInSuper), lit(0L)))
      .select(col("rng"), col("roff"))
    val wInRange = Window.partitionBy(col("rng")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    toks.join(broadcast(rangeOffs), "rng")
      .withColumn("start_tok",
        col("roff") + coalesce(sum(col("n_tokens")).over(wInRange), lit(0L)))
      .select(col("doc_id"), col("n_tokens"), col("start_tok"),
        expr(s"start_tok div ${budgetTokens}L").as("bin"),
        (col("start_tok") % budgetTokens).as("bin_tok"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic EXACT-k per-stratum sample ("reservoir" semantics,
    * engine-replayable): keep the k rows with the smallest md5-derived
    * hash per stratum. The naive formulation is a rank window over the
    * whole stratum — a full shuffle of every row plus a per-stratum sort,
    * and a single task per hot stratum at 100 TB. This is the TWO-PHASE
    * version: (1) count rows per (stratum, top-10-bit hash bucket) — a
    * tiny map-side-combined aggregate (≤1024 rows per stratum); (2) a
    * cumulative window over that BOUNDED aggregate finds the smallest
    * bucket prefix guaranteed to hold the k smallest hashes (buckets are
    * the hash's TOP bits, so bucket order IS hash order); (3) only rows
    * in that prefix — expected ~k + one bucket's worth — survive to the
    * exact rank. The full corpus is scanned twice but never shuffled;
    * the only per-stratum sort ranks ~k survivors.
    *
    * If a stratum has < k rows the threshold never materializes (left
    * join null) and every row survives to the rank — exact-k degrades to
    * take-all, same as the naive definition. */
  def reservoirSample(df: DataFrame, stratum: Column, key: Column,
                      tie: Column, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hv = conv(substring(md5(key), 1, 15), 16, 10).cast("long")
    val base = df.withColumn("hv", hv)
      .withColumn("bkt", expr("hv div 1125899906842624")) // 2^50: top 10 bits
      .withColumn("stratum", stratum)
    val counts = base.groupBy(col("stratum"), col("bkt")).agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy(col("stratum")).orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cut = counts.withColumn("cc", sum(col("c")).over(wCum))
      .where(col("cc") >= k)
      .groupBy(col("stratum")).agg(min(col("bkt")).as("cut"))
    val surv = base.join(broadcast(cut), Seq("stratum"), "left")
      .where(col("cut").isNull || col("bkt") <= col("cut"))
    val wRank = Window.partitionBy(col("stratum")).orderBy(col("hv"), tie)
    surv.withColumn("rk", row_number().over(wRank)).where(col("rk") <= k)
  }

  /** Gate face (q86): exactly 10 docs per source, hash-deterministic.
    * The ORACLE is the NAIVE rank formulation (plain per-stratum
    * row_number over (hv, tie)) — deliberately a different algorithm, so
    * the gate itself checks the two-phase correctness theorem (the bucket
    * prefix provably contains the k smallest hashes); TrainingOpsSpec
    * asserts the same equivalence in-engine on skewed strata. */
  def reservoirGate(s: SparkSession, d: String): DataFrame =
    reservoirSample(Tables.documents(s, d), col("source"),
      col("doc_id").cast("string"), tie = col("doc_id"), k = 10)
      .select(col("source"), col("doc_id"), col("hv"))
      .orderBy(col("source"), col("doc_id"))

  val reservoirSql: String =
    """WITH h AS (
      |  SELECT doc_id, source,
      |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS hv
      |  FROM documents),
      | ranked AS (
      |  SELECT doc_id, source, hv,
      |    row_number() OVER (PARTITION BY source ORDER BY hv, doc_id) AS rk
      |  FROM h)
      |SELECT source, doc_id, hv FROM ranked WHERE rk <= 10
      |ORDER BY source, doc_id""".stripMargin

  val sequencePackSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS n_tokens
      |  FROM documents),
      | c AS (
      |  SELECT doc_id, n_tokens,
      |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS start_tok
      |  FROM t)
      |SELECT doc_id, n_tokens, start_tok,
      |  start_tok // 512 AS bin, start_tok % 512 AS bin_tok
      |FROM c ORDER BY doc_id""".stripMargin

  /** Weighted probability-proportional-to-size (PPS) Bernoulli sample —
    * the curation counterpart to uniform downsampling: include row i
    * with probability min(1, k·wᵢ/W), so heavier documents/orders are
    * proportionally likelier to survive and the expected sample size is
    * k. The classic streaming formulation draws uᵢ ~ U(0,1) and keeps
    * uᵢ < k·wᵢ/W; here uᵢ is the row key's 40-bit md5 prefix, making
    * membership a PURE FUNCTION OF THE ROW (the [[stratifiedSample]]
    * contract: identical across runs, partitionings, engines). The test
    * `uᵢ·W < k·wᵢ·2⁴⁰` runs in decimal so every product is EXACT —
    * tight operand precisions (13 + 18 digits) keep the 38-digit result
    * lossless; no double ever decides membership, so DuckDB replays it
    * bit-for-bit with HUGEINT arithmetic. The min(1,·) cap is implicit:
    * uᵢ < 2⁴⁰ ⇒ rows with k·wᵢ ≥ W always pass.
    *
    * Scale: ONE map-side-combined scalar aggregate (W) broadcast back,
    * then a narrow filter — no shuffle, no state, no driver data path;
    * at 100 TB the cost is the scan. */
  def ppsSample(df: DataFrame, key: Column, weight: Column, k: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val tot = df.agg(sum(weight.cast("long")).cast(DecimalType(18, 0)).as("__W"))
    val u = conv(substring(md5(key), 1, 10), 16, 10).cast("long")
      .cast(DecimalType(13, 0)) // < 2^40: 13 digits
    df.join(broadcast(tot))
      .where(u * col("__W") <
        lit(k) * weight.cast("long").cast(DecimalType(18, 0)) * lit(1099511627776L))
      .drop("__W")
  }

  /** Gate face (q96): PPS sample of `orders` weighted by exact integer
    * CENTS of o_totalprice (2dp by construction), expected size 1000.
    * Output is the sampled ROWS — the oracle replays membership
    * row-for-row, proving weighted sampling is deterministic and
    * engine-independent. */
  def ppsSampleGate(s: SparkSession, d: String): DataFrame =
    ppsSample(Tables.orders(s, d)
        .withColumn("cents", expr("CAST(round(o_totalprice * 100) AS BIGINT)")),
      key = col("o_orderkey").cast("string"), weight = col("cents"), k = 1000)
      .select(col("o_orderkey"), col("cents"))
      .orderBy(col("o_orderkey"))

  val ppsSampleSql: String =
    """WITH w AS (
      |  SELECT o_orderkey,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
      |    CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 10) AS BIGINT) AS u
      |  FROM orders),
      | tot AS (SELECT CAST(sum(cents) AS HUGEINT) AS W FROM w)
      |SELECT o_orderkey, cents
      |FROM w, tot
      |WHERE CAST(u AS HUGEINT) * W
      |      < 1000 * CAST(cents AS HUGEINT) * CAST(1099511627776 AS HUGEINT)
      |ORDER BY o_orderkey""".stripMargin

  /** q172 — DETERMINISTIC EPOCH SHARD SHUFFLE: the step between a
    * curated corpus and a training run — assign every document to a
    * shard and an in-shard position for a given epoch, such that (a)
    * the order is a high-quality pseudorandom permutation (training
    * batches must not replay corpus order — adjacent doc_ids land in
    * unrelated shards/positions), (b) it is REPRODUCIBLE (same epoch →
    * bit-identical order on any cluster, any partitioning — a resumed
    * run continues exactly where it left off), and (c) different
    * epochs are decorrelated (the epoch salts the hash). The engine's
    * portable-hash convention (md5 prefix → int64, q47/q86's rule)
    * keys both properties; the oracle replays the permutation verbatim.
    *
    * Scale: the hash is a stateless per-row map; the only movement is
    * ONE shuffle by shard (exactly the movement a real pipeline needs
    * anyway to write shard files) and an in-shard sort — at 100 TB,
    * shards = O(cluster width × files per writer), each sort local to
    * its shard, no global order, no driver involvement. */
  def epochShardShuffle(s: SparkSession, d: String, epoch: Int = 1,
      shards: Int = 16): DataFrame = {
    val hv = conv(substring(md5(concat(col("doc_id").cast("string"),
      lit(s":$epoch"))), 1, 15), 16, 10).cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("hv"), col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), hv.as("hv"))
      .withColumn("shard", col("hv") % shards)
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("shard"), col("pos"), col("doc_id"))
      .orderBy(col("shard"), col("pos"))
  }

  /** Oracle for [[epochShardShuffle]] (epoch 1, 16 shards). */
  val epochShardShuffleSql: String =
    """WITH h AS (
      |  SELECT doc_id,
      |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':1'), 1, 15)
      |      AS BIGINT) AS hv
      |  FROM documents),
      | sharded AS (
      |  SELECT doc_id, hv % 16 AS shard,
      |    row_number() OVER (PARTITION BY hv % 16 ORDER BY hv, doc_id) AS pos
      |  FROM h)
      |SELECT shard, CAST(pos AS BIGINT) AS pos, doc_id FROM sharded
      |ORDER BY shard, pos""".stripMargin

  /** Per-stratum EXACT-QUOTA deterministic sample — [[reservoirSample]]
    * generalized from one scalar k to a QUOTA TABLE (strata columns +
    * `quota`): keep each stratum's `quota` smallest-hash rows. Same
    * two-phase bucket-prefix plan (per-(stratum, top-10-bit-bucket)
    * counts → cumulative cut over the bounded histogram → exact rank
    * over ~quota survivors), with the quota joined into both the cut
    * rule and the final rank — the corpus is scanned twice, shuffled
    * never, and the only per-stratum sort ranks survivors. A stratum
    * absent from the quota table (or with quota 0) keeps nothing; a
    * stratum with fewer rows than its quota keeps them all (the cut
    * never materializes). */
  def reservoirSampleQuota(df: DataFrame, strata: Seq[String], key: Column,
      tie: Column, quotas: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sc = strata.map(col)
    val hv = conv(substring(md5(key), 1, 15), 16, 10).cast("long")
    val base = df.withColumn("hv", hv)
      .withColumn("bkt", expr("hv div 1125899906842624")) // 2^50: top 10 bits
      .join(broadcast(quotas), strata)
    val counts = base.groupBy((sc :+ col("bkt")): _*)
      .agg(count(lit(1)).as("c"), first(col("quota")).as("quota"))
    val wCum = Window.partitionBy(sc: _*).orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cut = counts.withColumn("cc", sum(col("c")).over(wCum))
      .where(col("cc") >= col("quota"))
      .groupBy(sc: _*).agg(min(col("bkt")).as("cut"))
    val surv = base.join(broadcast(cut), strata, "left")
      .where(col("cut").isNull || col("bkt") <= col("cut"))
    val wRank = Window.partitionBy(sc: _*).orderBy(col("hv"), tie)
    surv.withColumn("rk", row_number().over(wRank))
      .where(col("rk") <= col("quota"))
  }

  /** q176 — SHARD BALANCE AUDIT (the q152 of training shards — q172's
    * audit leg): a deterministic shard assignment is only half the
    * story; the data loader's wall-clock is set by the FATTEST shard
    * (stragglers), and doc counts lie when documents vary in length.
    * Per shard: docs and chars, each as an integer-ppm share and an
    * over-mean ppm (the q152 formula) — the straggler number a
    * training job alerts on before epoch 1 wastes cluster-hours.
    *
    * Scale: rides q172's single shard shuffle; the report is
    * |shards|-bounded. */
  def epochShardBalance(s: SparkSession, d: String, epoch: Int = 1,
      shards: Int = 16): DataFrame = {
    val hv = conv(substring(md5(concat(col("doc_id").cast("string"),
      lit(s":$epoch"))), 1, 15), 16, 10).cast("long")
    val per = Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"), (hv % shards).as("shard"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
    val tot = per.agg(count(lit(1)).as("n_shards"),
      sum(col("n_docs")).as("td"), sum(col("n_chars")).as("tc"))
    per.crossJoin(broadcast(tot))
      .select(col("shard"), col("n_docs"), col("n_chars"),
        expr("(1000000 * n_docs) div td").as("docs_share_ppm"),
        expr("(1000000 * n_chars) div tc").as("chars_share_ppm"),
        expr("(1000000 * n_docs * n_shards) div td").as("docs_over_mean_ppm"),
        expr("(1000000 * n_chars * n_shards) div tc").as("chars_over_mean_ppm"))
      .orderBy(col("shard"))
  }

  /** q186 — CURRICULUM SHARD ORDERING: q172 gives every epoch a
    * reproducible RANDOM order; curriculum training wants a reproducible
    * QUALITY order — easy (high-quality) documents first, noise last —
    * while keeping the shard balance q176 audits. Same portable
    * epoch-salted hash and single shard shuffle as q172; the in-shard
    * position just sorts by (quality bucket DESC, hv, doc_id) instead of
    * (hv, doc_id): bucket = q117's integer stopword-bp score div 500
    * (21 buckets), so the curriculum knob composes with the one score
    * definition the quality family shares; wordless docs (no score)
    * take bucket −1 and train last. Within a bucket the hash order
    * keeps batches decorrelated — a curriculum that sorts strictly by
    * score replays corpus clumps.
    *
    * Scale: q172's exact cost — one narrow map, one shard shuffle,
    * local in-shard sorts. The score join is doc_id-co-partitioned
    * narrow work. */
  def curriculumShuffle(s: SparkSession, d: String, epoch: Int = 1,
      shards: Int = 16): DataFrame = {
    val hv = conv(substring(md5(concat(col("doc_id").cast("string"),
      lit(s":$epoch"))), 1, 15), 16, 10).cast("long")
    val scored = TextAnalysis.sourceQualityFrame(s, d)
      .select(col("doc_id"), col("score_bp"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard"))
      .orderBy(col("bucket").desc, col("hv").asc, col("doc_id").asc)
    Tables.documents(s, d)
      .select(col("doc_id"), hv.as("hv"))
      .join(scored, Seq("doc_id"), "left")
      .withColumn("bucket",
        coalesce(expr("score_bp div 500"), lit(-1L)))
      .withColumn("shard", col("hv") % shards)
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("shard"), col("pos"), col("doc_id"), col("bucket"))
      .orderBy(col("shard"), col("pos"))
  }

  /** Oracle for [[curriculumShuffle]] (epoch 1, 16 shards); the score
    * CTE is [[TextAnalysis.sourceQualityFrameSql]] VERBATIM — one score
    * definition across q117/q181/q186. */
  val curriculumShuffleSql: String =
    s"""WITH sc AS (${TextAnalysis.sourceQualityFrameSql}),
      | h AS (
      |  SELECT d.doc_id,
      |    CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':1'), 1, 15)
      |      AS BIGINT) AS hv,
      |    CAST(coalesce(sc.score_bp // 500, -1) AS BIGINT) AS bucket
      |  FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id),
      | sharded AS (
      |  SELECT doc_id, hv % 16 AS shard, bucket,
      |    row_number() OVER (PARTITION BY hv % 16
      |      ORDER BY bucket DESC, hv ASC, doc_id ASC) AS pos
      |  FROM h)
      |SELECT shard, CAST(pos AS BIGINT) AS pos, doc_id, bucket FROM sharded
      |ORDER BY shard, pos""".stripMargin

  /** Oracle for [[epochShardBalance]] (epoch 1, 16 shards). */
  val epochShardBalanceSql: String =
    """WITH h AS (
      |  SELECT doc_id, n_chars,
      |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':1'), 1, 15)
      |      AS BIGINT) % 16 AS shard
      |  FROM documents),
      | per AS (
      |  SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(n_chars) AS BIGINT) AS n_chars
      |  FROM h GROUP BY shard),
      | tot AS (SELECT CAST(count(*) AS BIGINT) AS n_shards,
      |   CAST(sum(n_docs) AS BIGINT) AS td,
      |   CAST(sum(n_chars) AS BIGINT) AS tc FROM per)
      |SELECT shard, n_docs, n_chars,
      |  CAST((1000000 * n_docs) // td AS BIGINT) AS docs_share_ppm,
      |  CAST((1000000 * n_chars) // tc AS BIGINT) AS chars_share_ppm,
      |  CAST((1000000 * n_docs * n_shards) // td AS BIGINT)
      |    AS docs_over_mean_ppm,
      |  CAST((1000000 * n_chars * n_shards) // tc AS BIGINT)
      |    AS chars_over_mean_ppm
      |FROM per CROSS JOIN tot
      |ORDER BY shard""".stripMargin

  // ---------------------------------------------------------------------
  // q197/q198: atomic-document bin packing (first-fit decreasing)
  // ---------------------------------------------------------------------

  /** Context-window capacity of the atomic pack — q49's budget, so the
    * two packing disciplines (split-at-boundary vs keep-docs-atomic)
    * are directly comparable. */
  val PackCap = 512L

  /** One interval of the FFD allocation: docs of length `len` whose
    * within-class rank (1-based, by doc_id) lies in
    * [rankStart, rankEnd] map to bin
    * `binStart + (rank − rankStart) div docsPerBin` — every bin in the
    * interval takes exactly `docsPerBin` docs of this class. */
  final case class PackAlloc(len: Long, rankStart: Long, rankEnd: Long,
      binStart: Long, docsPerBin: Long)

  /** First-fit-decreasing over a LENGTH HISTOGRAM with run-length-
    * compressed bin state — exact FFD, never per-doc state.
    *
    * Classic FFD scans docs in length-desc order and puts each into the
    * first bin with room. Docs of equal length are interchangeable, so
    * the scan batches per length class, and bins created/filled together
    * share a remaining capacity — the state is a list of bin GROUPS
    * (binStart, nBins, rem) in bin-index order. Processing class ℓ
    * against a group of rem r: each bin absorbs t = r div ℓ docs before
    * first-fit moves past it, so the group fills front-to-back and
    * splits into ≤ 3 groups (filled prefix / one partial bin / untouched
    * suffix). State therefore stays O(classes²) — bounded by the token
    * cap, NEVER by corpus size — which is what makes driver-side exact
    * FFD legitimate at any scale (the kmeansFit bounded-collect rule).
    *
    * Returns the interval-compressed doc→bin map (also O(classes²)
    * rows) and the bin count. Every bin receives ≥ 1 doc by
    * construction, so nBins = max bin id + 1. */
  private[graft] def ffdPack(hist: Seq[(Long, Long)], cap: Long)
      : (Seq[PackAlloc], Long) = {
    require(hist.forall { case (l, c) => l >= 1 && l <= cap && c > 0 },
      s"lengths must lie in [1, $cap]")
    final case class Group(binStart: Long, nBins: Long, rem: Long)
    val alloc = scala.collection.mutable.ArrayBuffer.empty[PackAlloc]
    var groups = List.empty[Group] // bin-index order
    var nextBin = 0L
    hist.sortBy(-_._1).foreach { case (len, count) =>
      var r = count
      var rank = 1L
      val next = scala.collection.mutable.ListBuffer.empty[Group]
      groups.foreach { g =>
        val t = g.rem / len
        if (r == 0 || t == 0) next += g
        else {
          val binsFull = math.min(r / t, g.nBins)
          if (binsFull > 0) {
            alloc += PackAlloc(len, rank, rank + t * binsFull - 1,
              g.binStart, t)
            rank += t * binsFull; r -= t * binsFull
            next += Group(g.binStart, binsFull, g.rem - t * len)
          }
          val p = if (binsFull < g.nBins) math.min(r, t - 1) else 0L
          if (p > 0) {
            alloc += PackAlloc(len, rank, rank + p - 1,
              g.binStart + binsFull, p)
            rank += p; r -= p
            next += Group(g.binStart + binsFull, 1, g.rem - p * len)
          }
          val touched = binsFull + (if (p > 0) 1L else 0L)
          if (touched < g.nBins)
            next += Group(g.binStart + touched, g.nBins - touched, g.rem)
        }
      }
      groups = next.toList
      if (r > 0) {
        val perBin = cap / len // ≥ 1: len ≤ cap
        val nFull = r / perBin
        if (nFull > 0) {
          alloc += PackAlloc(len, rank, rank + nFull * perBin - 1,
            nextBin, perBin)
          groups = groups :+ Group(nextBin, nFull, cap - perBin * len)
          nextBin += nFull; rank += nFull * perBin; r -= nFull * perBin
        }
        if (r > 0) {
          alloc += PackAlloc(len, rank, rank + r - 1, nextBin, r)
          groups = groups :+ Group(nextBin, 1, cap - r * len)
          nextBin += 1; r = 0
        }
      }
    }
    (alloc.toSeq, nextBin)
  }

  /** Packing length of a doc: token count clamped to [1, cap] — an
    * empty doc still occupies a slot (it exists in the dataset), an
    * oversize doc packs its first window and is FLAGGED (production
    * routes those to q49's splitter; the ledger counts them). */
  private def packLen(text: Column, cap: Long): Column =
    greatest(least(size(TextAnalysis.words(text)).cast("long"), lit(cap)),
      lit(1L))

  /** Build-once fingerprint-keyed FFD allocation artifact: ONE corpus
    * scan → the ≤cap-row length histogram (bounded driver collect) →
    * driver FFD ([[ffdPack]]) → the interval-compressed allocation
    * table persisted as parquet. The oracle REPLAYS doc→bin from this
    * artifact (the q51 artifact-round-trip convention — Verify
    * snapshots it and substitutes the path), because a first-fit pack
    * is inherently sequential: no SQL engine can express it, but both
    * engines can replay the interval arithmetic bit-for-bit. */
  private[graft] def packAllocDir(s: SparkSession, d: String): String =
    Scratch.artifact(s"packalloc_v1_c${PackCap}_" +
        Tables.sourceFingerprint(d, "documents")) { dir =>
      val hist = Tables.documents(s, d)
        .select(packLen(col("text"), PackCap).as("len"))
        .groupBy(col("len")).agg(count(lit(1)).as("cnt"))
        .collect() // bounded: ≤ PackCap rows at ANY corpus size
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      val (alloc, _) = ffdPack(hist, PackCap)
      import s.implicits._
      alloc.map(a => (a.len, a.rankStart, a.rankEnd, a.binStart,
        a.docsPerBin))
        .toDF("len", "rank_start", "rank_end", "bin_start", "docs_per_bin")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/alloc")
    } + "/alloc"

  /** q197 — ATOMIC-DOCUMENT BIN PACKING (first-fit decreasing): the
    * packing discipline q49 deliberately trades away — q49
    * concat-and-chunks, splitting budget-straddling docs across
    * context windows (zero padding, but every split doc trains with a
    * truncated context); this keeps every doc ATOMIC in exactly one
    * bin and pays PADDING instead. The pair quantifies the production
    * tradeoff (the spec holds the numbers side by side; q198 is the
    * ledger face).
    *
    * Assignment is exact FFD replayed from the persisted allocation
    * artifact ([[packAllocDir]]): rank within length class (by
    * doc_id) → interval lookup → bin arithmetic. Deterministic,
    * integer-exact, DuckDB-replayable.
    *
    * Scale: the histogram agg is map-side combined into ≤ cap rows;
    * the rank window partitions by len — a bounded domain, and in
    * production packing runs PER INGEST SHARD (padding is a local
    * property; shard-local FFD loses nothing at 10⁹ docs/shard), so
    * the per-class rank never globally sorts a 100 TB corpus. The
    * allocation join broadcasts an O(classes²) table. */
  def packAtomic(s: SparkSession, d: String, rangeDocs: Long = 1000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val allocPath = packAllocDir(s, d)
    val alloc = s.read.parquet(allocPath)
    val toks = Tables.documents(s, d).select(col("doc_id"),
      size(TextAnalysis.words(col("text"))).cast("long").as("n_tokens"),
      packLen(col("text"), PackCap).as("len"))
    // rank within length class by doc_id — as a DISTRIBUTED two-level
    // prefix sum (q49's shape, applied PER CLASS), not one window
    // partitioned by len: length classes are heavily skewed (every
    // truncated doc lands on len = cap), so the naive per-class window
    // is a single hot task at 100 TB. Here every sort runs over a
    // bounded partition: within-(len, range) over ≤B docs, within-
    // (len, super-range) over ≤B range summaries, per-len over n/B²
    // super summaries. The ORACLE keeps the naive per-class window —
    // different algorithm, same numbers (the q49 precedent).
    val ranged = toks.withColumn("rng", expr(s"doc_id div ${rangeDocs}L"))
    val rangeCnt = ranged.groupBy(col("len"), col("rng"))
      .agg(count(lit(1)).as("rcnt"))
      .withColumn("srng", expr(s"rng div ${rangeDocs}L"))
    val superCnt = rangeCnt.groupBy(col("len"), col("srng"))
      .agg(sum(col("rcnt")).as("scnt"))
    val wSuper = Window.partitionBy(col("len")).orderBy(col("srng"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val superOff = superCnt
      .withColumn("soff", coalesce(sum(col("scnt")).over(wSuper), lit(0L)))
      .select(col("len"), col("srng"), col("soff"))
    val wInSuper = Window.partitionBy(col("len"), col("srng"))
      .orderBy(col("rng")).rowsBetween(Window.unboundedPreceding, -1)
    // offset joins stay UNHINTED: unlike q49's global summaries, the
    // per-len summary tables multiply by |classes| ((len, rng) pairs can
    // reach 512·n/B — not broadcastable at 10¹⁰ docs), so AQE picks
    // broadcast at gate SFs and a co-partitioned hash join at scale.
    val rangeOff = rangeCnt.join(superOff, Seq("len", "srng"))
      .withColumn("roff",
        col("soff") + coalesce(sum(col("rcnt")).over(wInSuper), lit(0L)))
      .select(col("len"), col("rng"), col("roff"))
    val wInRange = Window.partitionBy(col("len"), col("rng"))
      .orderBy(col("doc_id"))
    val ranked = ranged.join(rangeOff, Seq("len", "rng"))
      .withColumn("rk",
        (col("roff") + row_number().over(wInRange)).cast("long"))
    ranked.join(broadcast(alloc),
      ranked("len") === alloc("len") &&
        col("rk") >= col("rank_start") && col("rk") <= col("rank_end"))
      .select(col("doc_id"), col("n_tokens"), ranked("len"), col("rk"),
        (col("bin_start") +
          expr("(rk - rank_start) div docs_per_bin")).as("bin"))
      .orderBy(col("doc_id"))
  }

  /** Oracle for [[packAtomic]] — Verify substitutes the snapshot of the
    * allocation artifact for `__Q197_PACK__`. */
  val packAtomicSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT)
      |      AS n_tokens
      |  FROM documents),
      | l AS (
      |  SELECT doc_id, n_tokens,
      |    greatest(least(n_tokens, 512), 1) AS len FROM t),
      | r AS (
      |  SELECT doc_id, n_tokens, len,
      |    CAST(row_number() OVER (PARTITION BY len ORDER BY doc_id)
      |      AS BIGINT) AS rk
      |  FROM l),
      | a AS (SELECT * FROM read_parquet('__Q197_PACK__/*.parquet'))
      |SELECT r.doc_id, r.n_tokens, r.len, r.rk,
      |  CAST(a.bin_start + (r.rk - a.rank_start) // a.docs_per_bin
      |    AS BIGINT) AS bin
      |FROM r JOIN a ON r.len = a.len
      |  AND r.rk BETWEEN a.rank_start AND a.rank_end
      |ORDER BY r.doc_id""".stripMargin

  /** q201 — PACK APPLY: materialize the packed training sequences the
    * q197 assignment implies — per bin, the docs' token streams (each
    * truncated at its packing length, i.e. oversize docs contribute
    * their first window) concatenated in doc_id order, hash-proven via
    * md5 so the gate pins the actual SEQUENCE CONSTRUCTION, not just
    * the assignment arithmetic (the q185/q155 alloc→apply convention).
    * Per bin: doc count, used/pad tokens, and the sequence digest.
    *
    * Scale: the q197 replay plus one groupBy(bin) — bins are
    * capacity-bounded (≤ cap docs each), so the per-group state is
    * bounded; the concat is bin-local, never corpus-wide. */
  def packApply(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d).select(col("doc_id"),
      TextAnalysis.words(col("text")).as("warr"))
    packAtomic(s, d)
      .join(toks, Seq("doc_id"))
      .select(col("bin"), col("doc_id"), col("len"),
        array_join(slice(col("warr"), lit(1), col("len").cast("int")), " ")
          .as("seq"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("len")).as("used_tokens"),
        (lit(PackCap) - sum(col("len"))).as("pad_tokens"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("doc_id"), col("seq")))),
          x => x.getField("seq")), " ").cast("binary")).as("seq_md5"))
      .orderBy(col("bin"))
  }

  /** Oracle for [[packApply]] — the q197 replay + per-bin ordered
    * concat + md5. */
  val packApplySql: String =
    """WITH t AS (
      |  SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS warr,
      |    CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT)
      |      AS n_tokens
      |  FROM documents),
      | l AS (
      |  SELECT doc_id, warr, n_tokens,
      |    greatest(least(n_tokens, 512), 1) AS len FROM t),
      | r AS (
      |  SELECT doc_id, warr, n_tokens, len,
      |    CAST(row_number() OVER (PARTITION BY len ORDER BY doc_id)
      |      AS BIGINT) AS rk
      |  FROM l),
      | a AS (SELECT * FROM read_parquet('__Q197_PACK__/*.parquet')),
      | m AS (
      |  SELECT r.doc_id, r.len,
      |    a.bin_start + (r.rk - a.rank_start) // a.docs_per_bin AS bin,
      |    array_to_string(list_slice(r.warr, 1, CAST(r.len AS INT)), ' ')
      |      AS seq
      |  FROM r JOIN a ON r.len = a.len
      |    AND r.rk BETWEEN a.rank_start AND a.rank_end)
      |SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(len) AS BIGINT) AS used_tokens,
      |  CAST(512 - sum(len) AS BIGINT) AS pad_tokens,
      |  md5(string_agg(seq, ' ' ORDER BY doc_id)) AS seq_md5
      |FROM m GROUP BY bin ORDER BY bin""".stripMargin

  /** q198 — PACKING LEDGER: the one-row accounting of the atomic pack —
    * bins, docs, used vs capacity tokens, fill/padding-waste ppm, and
    * the oversize count (docs longer than the window, packed at their
    * first window here and counted for routing to q49's splitter).
    * fill + waste = 10⁶ by construction; waste is THE number a training
    * pipeline watches (padding tokens are paid GPU time).
    *
    * Scale: one doc→bin replay (q197's join) into one global aggregate
    * — map-side combined, one row out. */
  def packLedger(s: SparkSession, d: String): DataFrame =
    packAtomic(s, d).agg(
      (max(col("bin")) + 1L).as("n_bins"),
      count(lit(1)).as("n_docs"),
      sum(col("len")).as("used_tokens"),
      sum(when(col("n_tokens") > PackCap, 1L).otherwise(0L))
        .as("n_oversize"))
      .select(col("n_bins"), col("n_docs"), col("used_tokens"),
        (col("n_bins") * PackCap).as("cap_tokens"),
        col("n_oversize"))
      .withColumn("fill_ppm",
        expr("(1000000 * used_tokens) div cap_tokens"))
      .withColumn("waste_ppm", lit(1000000L) - col("fill_ppm"))

  /** Oracle for [[packLedger]] — the q197 replay rolled up. */
  val packLedgerSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT)
      |      AS n_tokens
      |  FROM documents),
      | l AS (
      |  SELECT doc_id, n_tokens,
      |    greatest(least(n_tokens, 512), 1) AS len FROM t),
      | r AS (
      |  SELECT doc_id, n_tokens, len,
      |    CAST(row_number() OVER (PARTITION BY len ORDER BY doc_id)
      |      AS BIGINT) AS rk
      |  FROM l),
      | a AS (SELECT * FROM read_parquet('__Q197_PACK__/*.parquet')),
      | m AS (
      |  SELECT r.doc_id, r.n_tokens, r.len,
      |    a.bin_start + (r.rk - a.rank_start) // a.docs_per_bin AS bin
      |  FROM r JOIN a ON r.len = a.len
      |    AND r.rk BETWEEN a.rank_start AND a.rank_end),
      | g AS (
      |  SELECT CAST(max(bin) + 1 AS BIGINT) AS n_bins,
      |    CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(len) AS BIGINT) AS used_tokens,
      |    CAST(sum(CASE WHEN n_tokens > 512 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_oversize
      |  FROM m)
      |SELECT n_bins, n_docs, used_tokens,
      |  CAST(n_bins * 512 AS BIGINT) AS cap_tokens, n_oversize,
      |  CAST((1000000 * used_tokens) // (n_bins * 512) AS BIGINT)
      |    AS fill_ppm,
      |  CAST(1000000 - (1000000 * used_tokens) // (n_bins * 512)
      |    AS BIGINT) AS waste_ppm
      |FROM g""".stripMargin
}
