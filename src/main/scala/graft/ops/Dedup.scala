package graft.ops

import graft.{Scratch, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators (SURVEY.md §2B; BASELINE.json north_star):
  * exact, key-based with deterministic representative, exact n-gram
  * Jaccard (the verification baseline), MinHash signatures + LSH banding
  * (the 100 TB path), and SimHash.
  *
  * Portability: hashes that feed oracle-checked queries are md5-derived
  * (identical in Spark and DuckDB); engine-internal fast paths use
  * xxhash64 (codegen'd, no md5 string round-trip) in the rows-only
  * variants.
  *
  * Scale design:
  *  - exact dedup = hash-agg on the fingerprint; partial agg map-side.
  *  - MinHash: one explode + one groupBy per corpus — O(shingles);
  *    signatures are k=32 longs, ~tiny per doc.
  *  - LSH banding turns all-pairs O(n²) into equi-joins on (band, hash):
  *    only bucket collisions are compared. Skewed buckets (stop-shingles)
  *    are AQE-skew-join territory; candidate verification is a narrow
  *    zip over two 32-long arrays.
  */
object Dedup {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  import TextAnalysis.words

  /** 3-word shingles per doc, built inside the row: words array →
    * per-index concat via transform/sequence (small per-doc arrays, so
    * the HOF's interpreted eval is irrelevant) → explode → distinct.
    * No explode-then-window shuffle+sort: one narrow projection per doc,
    * then a single distinct — the shape that survives 100 TB. */
  /** `dedup = false` skips the distinct shuffle — correct for consumers
    * whose aggregate is duplicate-insensitive (min-hash). */
  private[graft] def shingles(docs: DataFrame, dedup: Boolean = true): DataFrame = {
    // materialize the words array behind a projection boundary FIRST:
    // inside an interpreted HOF the regexp would otherwise re-run per
    // lambda element (measured 5× on this query)
    val w = col("w")
    val shingleArr = when(size(w) >= 3,
      transform(sequence(lit(1), size(w) - 2), i =>
        concat(element_at(w, i), lit(" "),
          element_at(w, i + 1), lit(" "),
          element_at(w, i + 2))))
      .otherwise(array())
    val exploded = docs
      .select(col("doc_id"), words(col("text")).as("w"))
      .select(col("doc_id"), explode(shingleArr).as("shingle"))
    if (dedup) exploded.distinct() else exploded
  }

  private val shinglesSql: String =
    """SELECT DISTINCT doc_id, shingle FROM (
      |  SELECT doc_id,
      |    word || ' ' || lead(word,1) OVER w || ' ' || lead(word,2) OVER w AS shingle
      |  FROM (
      |    SELECT doc_id,
      |      unnest(regexp_extract_all(text, '[a-z0-9]+')) AS word,
      |      generate_subscripts(regexp_extract_all(text, '[a-z0-9]+'), 1) AS pos
      |    FROM documents)
      |  WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
      |WHERE shingle IS NOT NULL""".stripMargin

  /** Exact dedup: group documents by content fingerprint, keep the lowest
    * doc_id as representative. Deterministic (unlike dropDuplicates, whose
    * representative is partition-order-dependent). */
  def exactDedup(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("fp"), col("keep_id"), col("n_copies"))

  val exactDedupSql: String =
    """SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents GROUP BY md5(text)""".stripMargin

  /** Key-based dedup with deterministic representative over events:
    * first event per (user_id, event_type). The scalable
    * "dropDuplicates-with-order" idiom — single hash-agg, no window. */
  def firstEventPerKey(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(col("event_id")).as("first_event"), count(lit(1)).as("n_dups"))
      .orderBy(col("user_id"), col("event_type"))

  val firstEventPerKeySql: String =
    """SELECT user_id, event_type, min(event_id) AS first_event,
      |  count(*) AS n_dups
      |FROM events GROUP BY user_id, event_type
      |ORDER BY user_id, event_type""".stripMargin

  /** Exact n-gram Jaccard near-dup pairs (threshold 0.5) — the quadratic
    * baseline that MinHash approximates, made join-shaped: docs sharing a
    * shingle meet in an equi-join, common counts aggregate, Jaccard
    * filters. Only pairs with ≥1 shared shingle are ever materialized.
    *
    * The document-frequency cap (`maxDf`, same idea as
    * [[TextAnalysis.winnowPairs]]) is load-bearing at scale: a shingle
    * appearing in f docs contributes f² join pairs, so one stop-shingle
    * makes the self-join quadratic in the corpus. Capping bounds the join
    * at Σ f² ≤ maxDf · |postings| — linear. Per-doc sizes (`ns`) and
    * common counts are BOTH computed over the capped shingle universe, so
    * the Jaccard is exact within that universe and identical in the
    * oracle (which applies the same cap). Near-dup pairs still meet
    * through their rare shared shingles — a shingle in >maxDf docs
    * carries no pair-discriminating signal anyway. */
  def jaccardPairs(s: SparkSession, d: String, maxDf: Int = 100): DataFrame =
    // memoized per (session, dir, cap): the keep-list (nearDedup/q37) is an
    // anti-join against these pairs — sharing the persisted result means the
    // capped self-join is paid once per run, not once per consumer
    SharedPlans.cached(s, s"jaccardPairs|$d|$maxDf")(
      jaccardPairsOf(Tables.documents(s, d), maxDf))

  // r18 NOTE (falsified, kept out): persisting the shingle postings
  // in-query so the df aggregate and the join side share one evaluation
  // was A/B'd at sf1 (ConfAB, one JVM, AB/BA alternated) and LOST —
  // q32 flat (7.34 vs 7.59 s warm-min), q209 flat (6.45 vs 6.68), q112
  // markedly WORSE (11.75 vs 19.08: the persist forces a full postings
  // materialization where the router's 1/4 hash-sample stats pass only
  // needed a map-side-filtered scan). The two-evaluation shape stays.
  private[graft] def jaccardPairsOf(docs: DataFrame, maxDf: Int): DataFrame = {
    val shAll = shingles(docs)
    val rare = shAll.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf).select(col("shingle"))
    jaccardPairsFrom(shAll, rare)
  }

  /** [[jaccardPairsOf]] body, factored so q112's adaptive route can
    * reuse an already-computed df table (one postings shuffle total).
    * `t` parameterizes the similarity cut so the routed brute plan
    * honors q112's threshold argument — with the old hard-coded 0.5,
    * any routed call at t ≠ 0.5 silently returned pairs at the wrong
    * threshold (ADVICE r10). */
  private def jaccardPairsFrom(shAll: DataFrame, rare: DataFrame,
      t: Double = 0.5): DataFrame = {
    val sh = shAll.join(rare, "shingle").cache()
    val counts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("ns"))
    val common = sh.as("a")
      .join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(counts.select(col("doc_id"), col("ns").as("ns1")), col("d1") === col("doc_id")).drop("doc_id")
      .join(counts.select(col("doc_id"), col("ns").as("ns2")), col("d2") === col("doc_id")).drop("doc_id")
      .withColumn("jaccard",
        round(col("n_common").cast("double") / (col("ns1") + col("ns2") - col("n_common")), 4))
      .where(col("jaccard") >= t)
      .select(col("d1"), col("d2"), col("n_common"), col("jaccard"))
      .orderBy(col("d1"), col("d2"))
  }

  val jaccardPairsSql: String =
    s"""WITH s0 AS ($shinglesSql),
       | rare AS (SELECT shingle FROM s0 GROUP BY shingle HAVING count(*) <= 100),
       | s AS (SELECT s0.* FROM s0 JOIN rare USING (shingle)),
       | n AS (SELECT doc_id, count(*) AS ns FROM s GROUP BY doc_id),
       | common AS (
       |   SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_common
       |   FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |   GROUP BY 1, 2)
       |SELECT d1, d2, n_common,
       |  round(n_common * 1.0 / (n1.ns + n2.ns - n_common), 4) AS jaccard
       |FROM common
       |JOIN n n1 ON d1 = n1.doc_id
       |JOIN n n2 ON d2 = n2.doc_id
       |WHERE round(n_common * 1.0 / (n1.ns + n2.ns - n_common), 4) >= 0.5
       |ORDER BY d1, d2""".stripMargin

  /** q112 — prefix-filtered exact Jaccard join (the SSJoin/PPJoin prefix
    * principle, Chaudhuri et al. 2006 / Xiao et al. 2008): the EXACT
    * all-pairs answer of [[jaccardPairs]] through a candidate join that
    * touches only each document's PREFIX — its |s| − ⌈t·|s|⌉ + 1 rarest
    * shingles under a global (df asc, shingle asc) order. Any pair with
    * Jaccard ≥ t must share a prefix shingle, so joining prefixes loses
    * nothing; candidates then verify by exact set intersection. The
    * ORACLE IS [[jaccardPairsSql]] VERBATIM — the brute-force
    * formulation — so gate equality proves the pruning lossless and the
    * verification exact (the q93/q100 convention).
    *
    * Scale — measured scoping (probe_q112_ab_r9.txt):
    * the quadratic term Σ C(df,2) runs over PREFIX postings only, and
    * rarest-first ordering keeps hot shingles OUT of prefixes — but that
    * only pays when the df distribution is heavy-tailed. This harness's
    * corpus has BOUNDED df (max 25 at every probed SF), so [[jaccardPairs]]'
    * capped brute force is already linear and beats this operator there
    * (e.g. 13.1 vs 19.6 s at sf1). In the hot-shingle regime the prefix
    * join is the only exact plan that survives: with a 22-word boilerplate
    * on 30% of sf1 docs (hot df ≈ 15k, Σ C(df,2) = 2.26e9), brute = 339 s
    * vs prefix = 10.3 s — 33×, identical output. Use jaccardPairs when a
    * df cap is acceptable; use THIS when exactness over an uncapped
    * universe matters or the corpus carries boilerplate/hot shingles.
    *
    * r10: the operator now makes that regime choice ITSELF — see
    * [[RoutePairsPerPosting]]. The default adaptively routes bounded-
    * tail inputs to the (linear, faster) brute plan and heavy-tail
    * inputs to the prefix plan; `route = false` forces the prefix plan
    * (specs / A/B tooling). Output is identical either way. */
  def prefixJaccardPairs(s: SparkSession, d: String, maxDf: Int = 100,
      t: Double = 0.5, setVerify: Boolean = true, route: Boolean = true): DataFrame =
    prefixJaccardPairsOf(Tables.documents(s, d), maxDf, t, setVerify, route)

  /** Adaptive-route knee, in candidate pairs per posting: the operator
    * routes to the BRUTE capped plan when Σ C(df,2) ≤ K·Σ df over the
    * capped universe. Both plans emit the IDENTICAL exact pair set
    * (q112's oracle is q32's SQL verbatim under either route), so this
    * is purely a physical-plan decision, made from the df table the
    * operator computes anyway. Calibration (r9/r10 A/Bs): a bounded-df
    * corpus has ratio ≤ (maxDf−1)/2 ≤ 49.5 at the default cap and the
    * brute plan measured 2.6–3.2× faster at every natural (SF, cap) —
    * and is PROVABLY linear there (Σ C(df,2) ≤ (maxDf/2)·postings);
    * the hot-boilerplate regime (loosened cap, df ≈ 15k) measures
    * ratios in the thousands and the prefix plan wins 33×. K = 64 sits
    * between with ≥ 2 orders of magnitude margin on the hot side. */
  private val RoutePairsPerPosting = 64L

  private[graft] def prefixJaccardPairsOf(docs: DataFrame, maxDf: Int,
      t: Double, setVerify: Boolean, route: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val shAll = shingles(docs)
    val dfreq = shAll.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf)
    if (route) {
      // r10: the r9 PPJoin filters + packed ids cut the prefix plan's
      // spill but left its decades superlinear on THIS corpus family
      // (sf10 56.9 → sf30 248 s = 4.4× at 3× data, probe_r10.txt):
      // candidate volume still tracks the df tail, while the capped
      // brute plan is linear by construction. Route on the measured
      // tail ratio; `route = false` (specs) pins the prefix machinery
      // itself.
      //
      // The stats come from a 1/4 HASH-SAMPLE OF SHINGLES, not the full
      // df table: sampling by shingle keeps each sampled shingle's df
      // EXACT (all its postings survive the filter), the map-side
      // filter cuts the stats shuffle 4×, and the full-table stats pass
      // measured +40–150 s at sf30 — real money for a plan decision
      // with two orders of magnitude of margin. Tail-miss risk: the
      // hot-boilerplate regime carries ~22 hot shingles, so the sample
      // misses ALL of them (and mis-routes to brute) with probability
      // 0.75²² ≈ 0.2%; a mis-route costs time, never correctness.
      val st = shAll.where(pmod(xxhash64(col("shingle")), lit(4)) === 0)
        .groupBy(col("shingle")).agg(count(lit(1)).as("df"))
        .where(col("df") <= maxDf)
        .agg(sum(expr("df * (df - 1) div 2")).as("cand"),
          sum(col("df")).as("postings")).head
      val (cand, postings) =
        if (st.isNullAt(0)) (0L, 0L) else (st.getLong(0), st.getLong(1))
      if (cand <= RoutePairsPerPosting * postings)
        return jaccardPairsFrom(shAll, dfreq.select(col("shingle")), t)
    }
    // DICTIONARY-ENCODE the shingle strings to compact long surrogates
    // before anything wide: every downstream stage (two windows, the
    // prefix self-join, distinct, the verification joins/sets) then
    // shuffles 8-byte ids instead of ~25-byte strings. At sf30 (1.5M
    // docs, 78M postings) the string formulation's CUMULATIVE shuffle
    // spill exceeded 73 GB of local scratch and killed the job (r9
    // probe, both verification legs); the encoded form fits. Surrogate =
    // xxhash64(shingle): DETERMINISTIC under partition recompute — an
    // executor that loses a cached partition and replays lineage derives
    // the SAME sid every other partition saw (a monotonically_increasing_id
    // surrogate here could re-number on recompute and silently corrupt the
    // sid equality join at cluster scale — r9 advice item). Hash collisions
    // would merge two distinct shingles, so the dict is cached and a
    // collision guard runs EAGERLY before any sid is trusted: distinct
    // shingles must equal distinct sids (fail-loud, the GramAgg
    // convention). P(collision) at 10⁸ distinct shingles ≈ 3·10⁻⁴ over a
    // 64-bit space — the guard is belt over suspenders, but it converts a
    // silent wrong answer into a loud abort. Equality-isomorphic to the
    // strings, so every count, intersection, and the final output are
    // IDENTICAL — ids never surface. The (df, sid) prefix order is a
    // valid canonical total order: the prefix principle needs only that
    // both docs rank their shingles by the same global order.
    val dict = dfreq
      .select(col("shingle"), col("df"), xxhash64(col("shingle")).as("sid"))
      .cache()
    val nShingle = dict.count()
    val nSid = dict.agg(countDistinct(col("sid"))).head.getLong(0)
    if (nSid != nShingle)
      throw new IllegalStateException(
        s"prefixJaccardPairs: xxhash64 shingle-dictionary collision " +
          s"($nShingle shingles -> $nSid sids); rerun with a salted hash")
    val sh = shAll.join(dict, "shingle")
      .select(col("doc_id"), col("sid"), col("df")).cache()
    val byRarity = Window.partitionBy(col("doc_id"))
      .orderBy(col("df").asc, col("sid").asc)
    val whole = Window.partitionBy(col("doc_id"))
    val ranked = sh
      .withColumn("rn", row_number().over(byRarity))
      .withColumn("ns", count(lit(1)).over(whole))
    // Prefix length at t' = t − 1e-4, NOT t: the face (and the verbatim
    // q32 oracle) accept round(jaccard, 4) >= t, so a pair with TRUE
    // Jaccard in [t − 5e-5, t) rounds up and must pass — but the t-length
    // prefix only guarantees candidates for true J >= t. The slacked
    // prefix guarantees every pair with true J >= t − 1e-4 ⊇ every pair
    // that can round up to t, restoring losslessness at the rounding
    // boundary (costs at most one extra prefix shingle per doc).
    val tSlack = t - 1e-4
    // (ns, ns−rn) PACKED into one long (21 bits each side; doc shingle
    // counts are ≪ 2²¹): the prefix self-join is the widest spill in the
    // plan at sf30, so its rows stay 3 longs, not 4 — the filters below
    // unpack with codegen'd shifts
    val prefix = ranked
      .where(col("rn") <= col("ns") - ceil(col("ns") * tSlack) + 1)
      .select(col("doc_id"), col("sid"),
        (col("ns") * lit(1L << 21) + (col("ns") - col("rn"))).as("pk"))
    // PPJoin candidate filters (Xiao et al. 2008 §3), evaluated INSIDE
    // the join condition so pruned pairs die in the codegen'd join loop
    // and never reach the distinct shuffle or the set-verification joins
    // (the r9 sf30 probe's 53 GB spill lived exactly there — candidate
    // volume tracked the df tail, 5.8× wall at 3× data):
    //  - LENGTH filter: J ≥ t' ⟹ |∩|/|∪| ≤ min(ns)/max(ns), so
    //    min(ns) ≥ t'·max(ns).
    //  - POSITIONAL filter: J ≥ t' ⟺ overlap o ≥ t'/(1+t')·(ns1+ns2).
    //    At the RAREST shared shingle (positions rn1, rn2 under the
    //    canonical order) every shared shingle ranks ≥ rn in BOTH docs,
    //    so o ≤ 1 + min(ns1−rn1, ns2−rn2); require that bound to reach
    //    the threshold.
    // Losslessness: a qualifying pair's rarest shared shingle sits in
    // both prefixes (the prefix principle at t'), and at THAT occurrence
    // both filters hold by the inequalities above — so every true pair
    // still emits ≥ 1 candidate row. Occurrences of later shared
    // shingles may be pruned (their positional bound does not cover
    // shingles ranked before them), which only removes duplicate
    // candidate rows the distinct would have collapsed anyway.
    def nsOf(side: String) = shiftright(col(s"$side.pk"), 21)
    def remOf(side: String) = col(s"$side.pk").bitwiseAND(lit((1L << 21) - 1))
    val reqOverlap = lit(tSlack / (1.0 + tSlack)) *
      (nsOf("a") + nsOf("b")).cast("double")
    val candidates = prefix.as("a")
      .join(prefix.as("b"),
        col("a.sid") === col("b.sid") && col("a.doc_id") < col("b.doc_id")
          && least(nsOf("a"), nsOf("b")).cast("double") >=
             lit(tSlack) * greatest(nsOf("a"), nsOf("b")).cast("double")
          && (lit(1L) + least(remOf("a"), remOf("b"))).cast("double") >= reqOverlap)
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    val counts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("ns"))
    // Verification — two equivalent legs, A/B'd in probe_q112_ab_r9.txt.
    // The SET leg won EVERY measurement — natural corpus and constructed
    // hot-shingle regime alike (e.g. 10.3 s vs the relational leg's
    // 50.2 s at sf1 with 15k candidates): per-doc sets are bounded by
    // doc length, ship ONCE per candidate side, and array_intersect
    // runs in-memory per row, while the relational
    // candidates⋈postings⋈postings form pays a Σ_cand ns(d1) row
    // expansion through two shuffles plus a re-agg. Kept selectable:
    //  - set-based (default): collect_set per doc, array_intersect.
    //  - relational (setVerify=false): the textbook PPJoin count-common
    //    formulation, for corpora whose single longest doc wouldn't fit
    //    a collected array (not this schema's regime).
    val common =
      if (setVerify) {
        val sets = sh.groupBy(col("doc_id"))
          .agg(collect_set(col("sid")).as("set"))
        candidates
          .join(sets.select(col("doc_id").as("d1"), col("set").as("s1")), "d1")
          .join(sets.select(col("doc_id").as("d2"), col("set").as("s2")), "d2")
          .select(col("d1"), col("d2"),
            size(array_intersect(col("s1"), col("s2"))).cast("long").as("n_common"))
      } else {
        val pa = sh.select(col("doc_id").as("d1"), col("sid"))
        val pb = sh.select(col("doc_id").as("d2"), col("sid"))
        candidates.join(pa, "d1").join(pb, Seq("d2", "sid"))
          .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("n_common"))
      }
    common
      .join(counts.select(col("doc_id").as("d1"), col("ns").as("ns1")), "d1")
      .join(counts.select(col("doc_id").as("d2"), col("ns").as("ns2")), "d2")
      .withColumn("jaccard",
        round(col("n_common").cast("double") / (col("ns1") + col("ns2") - col("n_common")), 4))
      .where(col("jaccard") >= t)
      .select(col("d1"), col("d2"), col("n_common"), col("jaccard"))
      .orderBy(col("d1"), col("d2"))
  }

  /** Text near-dup DEDUP (the keep-list): drop every document with a
    * near-duplicate (Jaccard ≥ 0.5) of smaller doc_id — one anti-join,
    * deterministic, no iterative clustering (same policy as
    * [[Similarity.cosineDedup]]). `exact = true` sources pairs from the
    * capped exact join (oracle-checkable); the 100 TB path sources them
    * from [[minhashLshPairs]] — spec-compared, since est_jaccard on
    * signatures can differ from true Jaccard at the 0.5 boundary. */
  def nearDedup(s: SparkSession, d: String, exact: Boolean = true): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"))
    val pairs =
      if (exact) jaccardPairs(s, d).select(col("d2"))
      else minhashLshPairs(s, d).select(col("d2"))
    docs.join(pairs, docs("doc_id") === pairs("d2"), "left_anti")
      .select(col("doc_id").as("keep_id"))
      .orderBy(col("keep_id"))
  }

  def nearDedupSql: String =
    s"""WITH pairs AS ($jaccardPairsSql)
       |SELECT doc_id AS keep_id FROM documents
       |WHERE doc_id NOT IN (SELECT d2 FROM pairs)
       |ORDER BY keep_id""".stripMargin

  /** Number of MinHash permutations (k) and LSH bands (b); r = k/b rows
    * per band. k=32, b=8, r=4 → catches jaccard ≳ 0.5 pairs w.h.p. */
  val K = 32
  val BANDS = 8
  val ROWS_PER_BAND: Int = K / BANDS

  /** Portable 60-bit hash of a value under seed i (md5-derived; identical
    * expression exists in DuckDB). Costs one md5 PER SEED — fine for
    * single-seed uses (simhash); minhash uses [[affineHash]] instead. */
  private def seededHash(seed: Int, c: Column): Column =
    conv(substring(md5(concat(lit(seed.toString), lit("|"), c)), 1, 15), 16, 10)
      .cast("long")

  /** MinHash family: ONE md5 per shingle reduced to 40 bits, then k
    * affine universal-family transforms h_i = (a_i·h + b_i) mod P.
    * Hashing k seeds via k md5s costs 32× the string hashing (measured
    * 8 s vs 1 s at sf0.1 on the banded query); the affine family is one
    * md5 + integer arithmetic, portable to DuckDB verbatim, and
    * overflow-free in 64-bit: a < 2^20, h < 2^40 → a·h + b < 2^61. */
  val AffineP = 1099511627791L // smallest prime > 2^40
  private def affineConsts(i: Int): (Long, Long) = {
    def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    val a = (mix(i.toLong) & 0xFFFFFL) | 1L        // odd, nonzero, < 2^20
    val b = mix(i.toLong * 2 + 1) & 0xFFFFFFFFFFL  // < 2^40
    (a, b)
  }
  private def baseHash(c: Column): Column =
    conv(substring(md5(c), 1, 10), 16, 10).cast("long") // 40-bit
  private def affineHash(i: Int, base: Column): Column = {
    val (a, b) = affineConsts(i)
    pmod(base * lit(a) + lit(b), lit(AffineP))
  }

  /** MinHash signatures: k affine min-hashes per doc over one md5 base,
    * one groupBy. Oracle-checked end-to-end (all 32 components). */
  def minhashSignatures(s: SparkSession, d: String): DataFrame = {
    // min() is duplicate-insensitive → no distinct shuffle needed; the
    // oracle SQL keeps DISTINCT and the results are identical
    val sh = shingles(Tables.documents(s, d), dedup = false)
      .select(col("doc_id"), baseHash(col("shingle")).as("h"))
    val aggs = (0 until K).map(i => min(affineHash(i, col("h"))).as(s"mh$i"))
    sh.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*).orderBy(col("doc_id"))
  }

  val minhashSignaturesSql: String = {
    val cols = (0 until K).map { i =>
      val (a, b) = affineConsts(i)
      s"min(($a * h + $b) % $AffineP) AS mh$i"
    }.mkString(",\n  ")
    s"""WITH s AS ($shinglesSql),
       | hs AS (SELECT doc_id,
       |   CAST('0x' || substr(md5(shingle), 1, 10) AS BIGINT) AS h FROM s)
       |SELECT doc_id,
       |  $cols
       |FROM hs GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** MinHash-LSH near-dup pairs: band the signatures, equi-join on
    * (band, band-hash), dedup candidates to ID PAIRS before re-joining
    * signatures, verify by estimated Jaccard (fraction of equal
    * signature components) ≥ 0.5. This is the 100 TB dedup path: no
    * all-pairs comparison exists anywhere in the plan.
    *
    * Engine-internal fast path: signatures here use xxhash64 (native,
    * codegen'd) instead of q33's md5-derived hashes — q33 exists to
    * oracle-check the minhash construction; this query exists to run
    * fast. Both are deterministic. `portable = true` switches to the
    * md5-derived signatures and VALUE-keyed band buckets (no engine
    * hash anywhere), making the entire LSH pipeline reproducible in
    * DuckDB — the gate runs that variant so q34 is hash-checked
    * end-to-end, not rows-only. */
  def minhashLshPairs(s: SparkSession, d: String, portable: Boolean = false): DataFrame =
    minhashLshPairsOn(Tables.documents(s, d), portable)

  /** [[minhashLshPairs]] over any (doc_id, text) frame — the q157
    * canary face runs it over an augmented corpus. */
  private[graft] def minhashLshPairsOn(docs: DataFrame, portable: Boolean): DataFrame = {
    // k codegen'd min(xxhash64) aggs measured faster cold than the
    // one-pass TypedImperativeAggregate (graft.functions.MinHashAgg,
    // kept for large-k/sketch-merge uses) — interpreted update loops
    // lose to whole-stage codegen at k=32
    val sh0 = shingles(docs, dedup = false) // min is dup-insensitive
    val sh =
      if (portable) sh0.select(col("doc_id"), baseHash(col("shingle")).as("h"))
      else sh0.select(col("doc_id"), col("shingle"))
    val hashOf: Int => Column =
      if (portable) i => affineHash(i, col("h")) // one md5 + k affine transforms
      else i => xxhash64(lit(i), col("shingle"))
    val aggs = (0 until K).map(i => min(hashOf(i)).as(s"mh$i"))
    // cache: the signature subtree feeds FOUR plan branches (both sides
    // of the band self-join + both verify re-joins). Tiny: k longs/doc.
    val sig = sh.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"), array((0 until K).map(i => col(s"mh$i")): _*).as("sig"))
      .cache()
    // bucket key: hashed band values on the fast path (narrow long), the
    // raw comma-joined values on the portable path (engine-free)
    val bucketOf: Int => Column =
      if (portable) b => concat_ws(",",
        (0 until ROWS_PER_BAND).map(r => col("sig")(b * ROWS_PER_BAND + r).cast("string")): _*)
      else b => xxhash64(
        (0 until ROWS_PER_BAND).map(r => col("sig")(b * ROWS_PER_BAND + r)): _*).cast("string")
    val banded = sig.select(
      col("doc_id"), col("sig"),
      posexplode(array((0 until BANDS).map(bucketOf): _*))
        .as(Seq("band", "bandhash")))
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bandhash") === col("b.bandhash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    cand
      .join(sig.select(col("doc_id").as("d1"), col("sig").as("sig1")), "d1")
      .join(sig.select(col("doc_id").as("d2"), col("sig").as("sig2")), "d2")
      .withColumn("est_jaccard", round(
        aggregate(zip_with(col("sig1"), col("sig2"), (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / K, 4))
      .where(col("est_jaccard") >= 0.5)
      .select(col("d1"), col("d2"), col("est_jaccard"))
      .orderBy(col("d1"), col("d2"))
  }

  /** Oracle for the portable-variant [[minhashLshPairs]]: the identical
    * pipeline in DuckDB — md5-derived signatures (q33's construction),
    * value-keyed band buckets, candidate dedup, est-Jaccard verify. */
  def minhashLshPairsSql: String = {
    val sigCols = (0 until K).map { i =>
      val (a, b) = affineConsts(i)
      s"min(($a * h + $b) % $AffineP) AS mh$i"
    }.mkString(",\n  ")
    val bandSelects = (0 until BANDS).map { b =>
      val vals = (0 until ROWS_PER_BAND).map(r => s"mh${b * ROWS_PER_BAND + r}").mkString(", ")
      s"SELECT doc_id, $b AS band, concat_ws(',', $vals) AS bucket FROM sig"
    }.mkString("\n  UNION ALL ")
    val eq = (0 until K).map(i => s"CASE WHEN s1.mh$i = s2.mh$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH s AS ($shinglesSql),
       | hs AS (SELECT doc_id,
       |   CAST('0x' || substr(md5(shingle), 1, 10) AS BIGINT) AS h FROM s),
       | sig AS (SELECT doc_id,
       |  $sigCols
       |  FROM hs GROUP BY doc_id),
       | bands AS (
       |  $bandSelects),
       | cand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
       | est AS (
       |  SELECT d1, d2, round(($eq) / 32.0, 4) AS est_jaccard
       |  FROM cand
       |  JOIN sig s1 ON d1 = s1.doc_id
       |  JOIN sig s2 ON d2 = s2.doc_id)
       |SELECT d1, d2, est_jaccard FROM est
       |WHERE est_jaccard >= 0.5 ORDER BY d1, d2""".stripMargin
  }

  /** q151 — LSH QUALITY AUDIT (precision/recall vs exact ground truth):
    * q144's discipline (audit the approximation against exact truth on
    * a bounded probe set) applied to the DEDUP family. The MinHash-LSH
    * pair table (q34) can err in both directions — banding can MISS a
    * true near-dup pair (recall) and the 32-hash est-Jaccard can ACCEPT
    * a pair whose exact Jaccard is below threshold (precision) — and a
    * production pipeline re-tunes bands/rows on exactly this audit.
    * All thresholds are the INTEGER inequality 2·|∩| ≥ |A|+|B|−|∩|
    * (exact Jaccard ≥ 1/2 with no float anywhere), so the boundary is
    * engine-exact.
    *
    * The two legs are shaped by what each direction can afford:
    *  - PRECISION verifies EVERY pair the index emitted — the pair
    *    table is the small output of the LSH pipeline, so exact
    *    verification is |pairs|-bounded and needs no sampling. (The r12
    *    decade probe of the sampled-precision first cut measured WHY:
    *    at dup rate ~10⁻⁴ a random sample contains no pairs at all —
    *    null precision. Verifying the emitted pairs is both cheaper
    *    and the number a re-tuner actually wants.)
    *  - RECALL needs truth the index DIDN'T find, and exact truth at
    *    corpus scale is the O(n²) this audit must never run — so it is
    *    measured on a deterministic doc sample bounded in ABSOLUTE
    *    terms: `mod` = 0 (default) self-sizes to
    *    max(29, n/[[LshAuditSample]]) so the sample stays
    *    ≈ [[LshAuditSample]] docs at ANY corpus size (a fixed modulus
    *    would grow the sample ∝ n and re-open the quadratic — the q126
    *    stride lesson). A sparse-dup corpus can yield zero sampled
    *    truth → recall NULL, the honest answer (production plants
    *    canary dup pairs to make this leg informative). Sample-side
    *    LSH verdicts come from the ONE shared pair table restricted to
    *    sample×sample — band candidacy is pairwise, so full-corpus
    *    banding filtered to the sample equals sample-only banding (the
    *    oracle replays sample-only). The gate face pins mod = 29 to
    *    match the oracle literal (the self-sizer picks 29 at gate SFs
    *    anyway). */
  private[graft] val LshAuditMod = 29
  private[graft] val LshAuditSample = 512L

  def lshQualityAudit(s: SparkSession, d: String, mod: Int = 0): DataFrame = {
    val m =
      if (mod > 0) mod
      else {
        val n = SharedPlans.cachedCount(s, s"docCount|$d")(
          Tables.documents(s, d).count())
        math.max(LshAuditMod.toLong, n / LshAuditSample).toInt
      }
    // behind SharedPlans: the q157 canary face consumes the identical
    // row as its corpus-pairs base, so within a pass the legs are paid
    // once (keyed by m — the self-sizer and a pinned mod can differ at
    // decade SFs)
    SharedPlans.cached(s, s"lshQualityLegs|$d|$m")(
      lshQualityLegsOn(
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        minhashLshPairsShared(s, d).select(col("d1"), col("d2")), m))
  }

  /** The two audit legs over any (doc_id, text) corpus and its LSH pair
    * table — extracted (r13) so the canary face (q157) runs the
    * IDENTICAL legs over an augmented corpus. */
  /** Exact-Jaccard verdict pairs (d1, d2) for every co-occurring pair
    * within `docs` — the ≥ ½ integer inequality; shared by the q151
    * legs and the q157 canary delta. */
  private def exactPairs(docs: DataFrame): DataFrame = {
    val sh = shingles(docs, dedup = true)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    sh.as("a")
      .join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("ninter"))
      .join(sizes.select(col("doc_id").as("d1"), col("sz").as("sz1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("sz").as("sz2")), "d2")
      .where(lit(2) * col("ninter") >= col("sz1") + col("sz2") - col("ninter"))
      .select(col("d1"), col("d2"))
  }

  /** Build-once path of [[minhashSigShared]]: the portable corpus
    * signature table as a PERSISTED fingerprint-keyed artifact — the
    * quant8 convention ([[Similarity.quantizedEmbeddings]]) applied to
    * the dedup family's hot path (r13 verdict item 2). FIVE consumers
    * ride this table (q34's pair mining, q127/q149's admission index,
    * q151/q157's audit legs) and the r13 session-cache version re-signed
    * the corpus once per session — q157's isolated decade cost was
    * 125–172 s at sf10, mostly this base. Signed ONCE per source
    * content (fingerprint-keyed, so regenerated testdata keys a fresh
    * artifact), written as session-width parquet (parallel scans), and
    * every consumer reads a PLAIN SCAN — signatures are exact longs, so
    * the disk round-trip is lossless and all gate hashes are unchanged.
    * At 100 TB this is the production shape: the signature table lives
    * next to the corpus and the daily batch never re-shingles it. */
  private def sigArtifactDir(s: SparkSession, d: String): String =
    Scratch.artifact(s"mhsig_${Tables.sourceFingerprint(d, "documents")}") { dir =>
      minhashSig(Tables.documents(s, d).select(col("doc_id"), col("text")))
        .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt)
        .write.mode("overwrite").parquet(s"$dir/sig")
    } + "/sig"

  /** The portable corpus signature table — a plain scan of the
    * fingerprint-keyed artifact (see [[sigArtifactDir]]). Signatures are
    * per-document, so consumers needing a corpus SLICE (q127/q149's
    * `% 7 ≠ 0` index) filter this table — filter commutes with the
    * per-doc aggregation, identical rows. */
  private[graft] def minhashSigShared(s: SparkSession, d: String): DataFrame =
    s.read.parquet(sigArtifactDir(s, d))

  /** LSH pair mining from an existing signature table: banding,
    * candidate dedup, est-Jaccard verify — [[minhashLshPairsOn]]'s
    * portable tail without the signing head, so artifact-backed
    * consumers never re-shingle. Identical values by construction
    * ([[sigBands]]' value-keyed buckets are the portable bucketOf). */
  private[graft] def pairsFromSig(sig: DataFrame): DataFrame = {
    val banded = sigBands(sig)
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bandhash") === col("b.bandhash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    cand
      .join(sig.select(col("doc_id").as("d1"), col("sig").as("sig1")), "d1")
      .join(sig.select(col("doc_id").as("d2"), col("sig").as("sig2")), "d2")
      .withColumn("est_jaccard", round(
        aggregate(zip_with(col("sig1"), col("sig2"), (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / K, 4))
      .where(col("est_jaccard") >= 0.5)
      .select(col("d1"), col("d2"), col("est_jaccard"))
      .orderBy(col("d1"), col("d2"))
  }

  private def lshQualityLegsOn(corpus: DataFrame, lshAll: DataFrame,
      m: Int): DataFrame = {
    // precision leg: exact-verify ALL emitted pairs — restrict the
    // shingle work to pair-involved docs (bounded by 2·|pairs|)
    val pairDocs = lshAll.select(col("d1").as("doc_id"))
      .unionAll(lshAll.select(col("d2").as("doc_id"))).distinct()
    // NO broadcast hint on pairDocs (r12 advice): its size is
    // data-dependent (2·|LSH pairs|, unbounded on a high-dup corpus at
    // decade scale) — the planner size-routes the semi-join instead,
    // falling back to a shuffle join past the broadcast threshold. The
    // recall leg's sample stays absolutely bounded by construction.
    val pairTrue = exactPairs(
        corpus.join(pairDocs, Seq("doc_id"), "left_semi"))
      .join(lshAll, Seq("d1", "d2"), "left_semi")
    // recall leg: exact truth on the bounded sample vs the sample's
    // LSH verdicts
    val truth = exactPairs(corpus.where(col("doc_id") % m === 0))
    val lshSamp = lshAll.where(col("d1") % m === 0 && col("d2") % m === 0)
    val nLsh = lshAll.agg(count(lit(1)).as("n_lsh"))
    val nLshTrue = pairTrue.agg(count(lit(1)).as("n_lsh_true"))
    val nTruth = truth.agg(count(lit(1)).as("n_truth_sample"))
    val nHit = truth.join(lshSamp, Seq("d1", "d2")).agg(count(lit(1)).as("n_hit_sample"))
    nLsh.crossJoin(nLshTrue).crossJoin(nTruth).crossJoin(nHit)
      .select(col("n_lsh"), col("n_lsh_true"), col("n_truth_sample"),
        col("n_hit_sample"),
        // empty-denominator guard, the q122 convention: emit NULL, not
        // an engine-specific div-by-zero
        when(col("n_lsh") > 0,
          expr("(1000000 * n_lsh_true) div n_lsh")).as("precision_ppm"),
        when(col("n_truth_sample") > 0,
          expr("(1000000 * n_hit_sample) div n_truth_sample")).as("recall_ppm"))
  }

  /** q157 — LSH QUALITY AUDIT WITH PLANTED CANARIES: q151's recall leg
    * has never produced a number on gate data — the corpus's dup rate
    * leaves the bounded sample empty, recall NULL (the honest answer,
    * measured at three SFs). This face closes the loop with the
    * production practice q151's own scaladoc names: PLANT deterministic
    * near-dup canaries in the sample stratum so the recall leg is
    * load-bearing. For every sampled doc (doc_id % m = 0) a canary is
    * synthesized at id −(doc_id) − m (negative — disjoint from all real
    * ids, and still ≡ 0 mod m, so the pair lands INSIDE the sample
    * stratum) whose text is the first ⌈70%⌉ of the doc's words — its
    * shingle set is a subset of the source's, putting exact Jaccard
    * near 0.7: above the ½ truth threshold but close enough to the
    * 32-hash estimator's noise floor that recall is a REAL measurement,
    * not a tautology. Both legs then run UNCHANGED over the augmented
    * corpus ([[lshQualityLegsOn]] — one definition); recall_ppm is
    * non-NULL by construction and a drop names a banding regression.
    *
    * Scale: canaries are sample-sized (≈ [[LshAuditSample]] docs at any
    * corpus size — the stratum is absolutely bounded), so planting adds
    * one scan of the sampled docs; the augmented LSH pipeline costs the
    * same banding joins as q34 plus the canaries' signatures. */
  def lshQualityAuditCanaried(s: SparkSession, d: String, mod: Int = 0): DataFrame = {
    val m =
      if (mod > 0) mod
      else {
        val n = SharedPlans.cachedCount(s, s"docCount|$d")(
          Tables.documents(s, d).count())
        math.max(LshAuditMod.toLong, n / LshAuditSample).toInt
      }
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    // ⌈70%⌉ by integer math ((7n+9) div 10 = ceil(7n/10)) — engine-exact
    // in both engines, no float anywhere in the splice
    val canaries = docs.where(col("doc_id") % m === 0)
      .select(col("doc_id"), words(col("text")).as("warr"))
      .select((-col("doc_id") - m).as("doc_id"),
        array_join(slice(col("warr"), lit(1),
          greatest(expr("(size(warr) * 7 + 9) div 10"), lit(3))), " ")
          .as("text"))
    val docs2 = docs.unionAll(canaries)
    // DELTA formulation (r13, measured 12.3 s → the q151 base + a
    // canary-sized increment): band candidacy and est-Jaccard are
    // PAIRWISE, so pairs(docs ∪ canaries) partitions exactly into
    // pairs(docs) — the q151 legs, one cached row shared with q151's
    // own gate face — and the canary-involved pairs, which cost
    // |canaries| signatures + a broadcast band probe + exact
    // verification of the canary pairs alone. This is also the honest
    // production shape: planting canaries must never re-mine the
    // corpus. Canary ids are negative, corpus ids non-negative, so the
    // two pair sets are provably disjoint.
    val base = lshQualityAudit(s, d, m)
      .select(col("n_lsh").as("base_lsh"), col("n_lsh_true").as("base_true"))
    val sigC = minhashSig(canaries)
    // eager localCheckpoint at an explicit session width: the
    // artifact-scan ∪ live-canary union feeds two full scans (the two
    // BroadcastHashJoin probes below), and the checkpoint materializes
    // it once with ONE uniform layout instead of re-reading the artifact
    // per consumer. The repartition also keeps the checkpointed
    // LogicalRDD from carrying a trustable hash-partitioning claim into
    // later planning (the r13/r14 zip-failure class — see canaryPairs).
    val width = s.conf.get("spark.sql.shuffle.partitions").toInt
    val sigAll = minhashSigShared(s, d).unionAll(sigC)
      .repartition(width)
      .localCheckpoint(true)
    val bandsC = sigBands(sigC)
      .select(col("doc_id").as("cdoc"), col("band"), col("bandhash"))
    val cand = sigBands(sigAll)
      .join(broadcast(bandsC), Seq("band", "bandhash"))
      .where(col("doc_id") =!= col("cdoc"))
      .select(least(col("doc_id"), col("cdoc")).as("d1"),
        greatest(col("doc_id"), col("cdoc")).as("d2"))
      .distinct()
    // cached: this tiny pair table feeds THREE aggregate subtrees
    // (count, exact verification, sample hits) — uncached, each one
    // re-ran the full-corpus band probe (measured 19 s warm vs 5 s).
    // Every join here is a BROADCAST of the canary-bounded side (cand /
    // the sig-carrying pair rows are O(sample) ≈ 500 rows at ANY corpus
    // size — the stratum is absolutely bounded by construction): the
    // 6M-row sigAll is streamed through two BroadcastHashJoins instead
    // of being shuffled twice, and — the r14 correctness point — no
    // checkpointed LogicalRDD ever meets a co-partitioned SMJ, which is
    // what made AQE (decade SFs replan from initialPartitionNum=256)
    // zip mismatched partition counts at sf10 (32 vs 64).
    val withSig1 = sigAll
      .select(col("doc_id").as("d1"), col("sig").as("sig1"))
      .join(broadcast(cand), Seq("d1"))
    val canaryPairs = sigAll
      .select(col("doc_id").as("d2"), col("sig").as("sig2"))
      .join(broadcast(withSig1), Seq("d2"))
      .where(round(aggregate(zip_with(col("sig1"), col("sig2"),
          (x, y) => when(x === y, 1).otherwise(0)),
        lit(0), (acc, v) => acc + v).cast("double") / K, 4) >= 0.5)
      .select(col("d1"), col("d2"))
      .localCheckpoint(true)
    val cpDocs = canaryPairs.select(col("d1").as("doc_id"))
      .unionAll(canaryPairs.select(col("d2").as("doc_id"))).distinct()
    val cTrue = exactPairs(docs2.join(broadcast(cpDocs), Seq("doc_id"), "left_semi"))
      .join(broadcast(canaryPairs), Seq("d1", "d2"), "left_semi")
    // sample legs over the augmented corpus (absolutely bounded);
    // cached — feeds the truth count and the hit join
    val truth2 = exactPairs(docs2.where(col("doc_id") % m === 0))
      .localCheckpoint(true)
    val lshSamp = minhashLshPairsShared(s, d).select(col("d1"), col("d2"))
      .where(col("d1") % m === 0 && col("d2") % m === 0)
      .unionAll(canaryPairs.where(col("d1") % m === 0 && col("d2") % m === 0))
    base
      .crossJoin(broadcast(canaries.agg(count(lit(1)).as("n_canaries"))))
      .crossJoin(broadcast(canaryPairs.agg(count(lit(1)).as("n_cp"))))
      .crossJoin(broadcast(cTrue.agg(count(lit(1)).as("n_ct"))))
      .crossJoin(broadcast(truth2.agg(count(lit(1)).as("n_truth_sample"))))
      .crossJoin(broadcast(lshSamp.join(broadcast(truth2), Seq("d1", "d2"))
        .agg(count(lit(1)).as("n_hit_sample"))))
      .select(col("n_canaries"),
        (col("base_lsh") + col("n_cp")).as("n_lsh"),
        (col("base_true") + col("n_ct")).as("n_lsh_true"),
        col("n_truth_sample"), col("n_hit_sample"))
      .select(col("n_canaries"), col("n_lsh"), col("n_lsh_true"),
        col("n_truth_sample"), col("n_hit_sample"),
        when(col("n_lsh") > 0,
          expr("(1000000 * n_lsh_true) div n_lsh")).as("precision_ppm"),
        when(col("n_truth_sample") > 0,
          expr("(1000000 * n_hit_sample) div n_truth_sample")).as("recall_ppm"))
  }

  /** Oracle for [[lshQualityAudit]]: the full-corpus portable LSH
    * replay (q34's CTEs), exact Jaccard via the integer inequality —
    * over pair-involved docs for the precision leg, over the sample
    * for the recall leg. */
  def lshQualityAuditSql: String = {
    val mod = LshAuditMod
    s"""WITH s AS ($shinglesSql),
       | hs AS (SELECT doc_id,
       |   CAST('0x' || substr(md5(shingle), 1, 10) AS BIGINT) AS h
       |   FROM s),
       | sig AS (SELECT doc_id,
       |  $sigSqlCols
       |  FROM hs GROUP BY doc_id),
       | bands AS (
       |  $bandSelectsSql),
       | cand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
       | lsh AS (
       |  SELECT d1, d2 FROM cand
       |  JOIN sig s1 ON d1 = s1.doc_id
       |  JOIN sig s2 ON d2 = s2.doc_id
       |  WHERE round((${sigEqSql("s1", "s2")}) / $K.0, 4) >= 0.5),
       | sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
       |        FROM s GROUP BY doc_id),
       | pdocs AS (SELECT d1 AS doc_id FROM lsh UNION SELECT d2 FROM lsh),
       | psh AS (SELECT s.doc_id, s.shingle FROM s JOIN pdocs USING (doc_id)),
       | pinter AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(count(*) AS BIGINT) AS ninter
       |  FROM psh a JOIN psh b
       |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       | lsh_true AS (
       |  SELECT l.d1, l.d2 FROM lsh l
       |  JOIN pinter i ON l.d1 = i.d1 AND l.d2 = i.d2
       |  JOIN sz z1 ON l.d1 = z1.doc_id
       |  JOIN sz z2 ON l.d2 = z2.doc_id
       |  WHERE 2 * i.ninter >= z1.sz + z2.sz - i.ninter),
       | samp AS (SELECT doc_id, shingle FROM s WHERE doc_id % $mod = 0),
       | sinter AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(count(*) AS BIGINT) AS ninter
       |  FROM samp a JOIN samp b
       |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       | truth AS (
       |  SELECT d1, d2 FROM sinter
       |  JOIN sz z1 ON d1 = z1.doc_id
       |  JOIN sz z2 ON d2 = z2.doc_id
       |  WHERE 2 * ninter >= z1.sz + z2.sz - ninter),
       | c AS (
       |  SELECT CAST((SELECT count(*) FROM lsh) AS BIGINT) AS n_lsh,
       |    CAST((SELECT count(*) FROM lsh_true) AS BIGINT) AS n_lsh_true,
       |    CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth_sample,
       |    CAST((SELECT count(*) FROM truth JOIN lsh USING (d1, d2)) AS BIGINT)
       |      AS n_hit_sample)
       |SELECT n_lsh, n_lsh_true, n_truth_sample, n_hit_sample,
       |  CASE WHEN n_lsh > 0
       |    THEN CAST((1000000 * n_lsh_true) // n_lsh AS BIGINT) ELSE NULL END
       |    AS precision_ppm,
       |  CASE WHEN n_truth_sample > 0
       |    THEN CAST((1000000 * n_hit_sample) // n_truth_sample AS BIGINT)
       |    ELSE NULL END AS recall_ppm
       |FROM c""".stripMargin
  }

  /** Oracle for [[lshQualityAuditCanaried]]: the q151 oracle with the
    * corpus augmented by the deterministic canary CTE (same integer
    * 70%-prefix splice) — every downstream CTE reads docs2. */
  def lshQualityAuditCanariedSql: String = {
    val mod = LshAuditMod
    s"""WITH docs2 AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT -(doc_id) - $mod AS doc_id,
       |    array_to_string(list_slice(regexp_extract_all(text, '[a-z0-9]+'), 1,
       |      greatest((len(regexp_extract_all(text, '[a-z0-9]+')) * 7 + 9) // 10,
       |        3)), ' ') AS text
       |  FROM documents WHERE doc_id % $mod = 0),
       | s AS (${shinglesSqlFrom("docs2")}),
       | hs AS (SELECT doc_id,
       |   CAST('0x' || substr(md5(shingle), 1, 10) AS BIGINT) AS h
       |   FROM s),
       | sig AS (SELECT doc_id,
       |  $sigSqlCols
       |  FROM hs GROUP BY doc_id),
       | bands AS (
       |  $bandSelectsSql),
       | cand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
       | lsh AS (
       |  SELECT d1, d2 FROM cand
       |  JOIN sig s1 ON d1 = s1.doc_id
       |  JOIN sig s2 ON d2 = s2.doc_id
       |  WHERE round((${sigEqSql("s1", "s2")}) / $K.0, 4) >= 0.5),
       | sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
       |        FROM s GROUP BY doc_id),
       | pdocs AS (SELECT d1 AS doc_id FROM lsh UNION SELECT d2 FROM lsh),
       | psh AS (SELECT s.doc_id, s.shingle FROM s JOIN pdocs USING (doc_id)),
       | pinter AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(count(*) AS BIGINT) AS ninter
       |  FROM psh a JOIN psh b
       |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       | lsh_true AS (
       |  SELECT l.d1, l.d2 FROM lsh l
       |  JOIN pinter i ON l.d1 = i.d1 AND l.d2 = i.d2
       |  JOIN sz z1 ON l.d1 = z1.doc_id
       |  JOIN sz z2 ON l.d2 = z2.doc_id
       |  WHERE 2 * i.ninter >= z1.sz + z2.sz - i.ninter),
       | samp AS (SELECT doc_id, shingle FROM s WHERE doc_id % $mod = 0),
       | sinter AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(count(*) AS BIGINT) AS ninter
       |  FROM samp a JOIN samp b
       |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       | truth AS (
       |  SELECT d1, d2 FROM sinter
       |  JOIN sz z1 ON d1 = z1.doc_id
       |  JOIN sz z2 ON d2 = z2.doc_id
       |  WHERE 2 * ninter >= z1.sz + z2.sz - ninter),
       | c AS (
       |  SELECT
       |    CAST((SELECT count(*) FROM documents WHERE doc_id % $mod = 0)
       |      AS BIGINT) AS n_canaries,
       |    CAST((SELECT count(*) FROM lsh) AS BIGINT) AS n_lsh,
       |    CAST((SELECT count(*) FROM lsh_true) AS BIGINT) AS n_lsh_true,
       |    CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth_sample,
       |    CAST((SELECT count(*) FROM truth JOIN lsh USING (d1, d2)) AS BIGINT)
       |      AS n_hit_sample)
       |SELECT n_canaries, n_lsh, n_lsh_true, n_truth_sample, n_hit_sample,
       |  CASE WHEN n_lsh > 0
       |    THEN CAST((1000000 * n_lsh_true) // n_lsh AS BIGINT) ELSE NULL END
       |    AS precision_ppm,
       |  CASE WHEN n_truth_sample > 0
       |    THEN CAST((1000000 * n_hit_sample) // n_truth_sample AS BIGINT)
       |    ELSE NULL END AS recall_ppm
       |FROM c""".stripMargin
  }

  /** SimHash (64-bit) per document: sign-sum of per-word hash bits weighted
    * by term frequency; near-dups differ in few bits. Hamming-distance
    * pairs are found by pigeonhole banding (16-bit chunks) — same LSH
    * join shape as MinHash, no all-pairs. Signatures oracle-checked. */
  def simhash(s: SparkSession, d: String): DataFrame =
    simhashSig(s, d).orderBy(col("doc_id"))

  /** [[simhash]] without the output orderBy — the signature table for
    * consumers that join or aggregate it (q36), where the sort
    * contributes nothing (r18, guide §2.4 "an orderBy used only to make
    * output deterministic": the committed q36 plan carried TWO full
    * signature sorts + range exchanges under the candidate self-join). */
  private[graft] def simhashSig(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val terms = docs
      .select(col("doc_id"), explode(words(col("text"))).as("word"))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
      .withColumn("h", seededHash(0, col("word")))
    // per bit: sum(tf * (bit ? 1 : -1)); simhash bit = sign of sum
    val bitCols = (0 until 60).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, col("tf"))
        .otherwise(-col("tf"))).as(s"s$i")
    }
    val sums = terms.groupBy(col("doc_id")).agg(bitCols.head, bitCols.tail: _*)
    val sh = (0 until 60).map(i =>
      when(col(s"s$i") > 0, shiftleft(lit(1L), i)).otherwise(0L))
      .reduce((a, b) => a.bitwiseOR(b))
    sums.select(col("doc_id"), sh.as("simhash"))
  }

  /** SimHash near-dup pairs via GENERALIZED pigeonhole (multi-index,
    * Manku et al. WWW'07 shape): split the 60-bit signature into
    * `maxHamming + 2` chunks — ≤ maxHamming flipped bits touch at most
    * maxHamming chunks, so any qualifying pair agrees on AT LEAST TWO
    * chunks and candidates meet in an equi-join keyed on PAIRS of chunks
    * (C(c,2) combinations, ~2·60/c-bit keys), then verify exactly with
    * bit_count. Complete for the distance bound at every corpus size —
    * the r-combination key is the scale dial that single-chunk banding
    * lacks: one 10-bit chunk gives 1024 buckets forever (occupancy grows
    * linearly, candidates quadratically — measured 4.4× time for 3× data
    * at sf3), while chunk-pair keys give ~2^17 buckets and the same
    * output. Deterministic and complete → oracle-checked against the
    * brute-force all-pairs filter. */
  def simhashPairs(s: SparkSession, d: String, maxHamming: Int = 5): DataFrame = {
    val c = maxHamming + 2 // ≥2 agreeing chunks guaranteed (pigeonhole)
    require(c >= 2 && c <= 60, s"maxHamming out of range: $maxHamming")
    val widths = {
      val base = 60 / c
      val extra = 60 % c
      require(base >= 1, s"too many chunks for 60 bits: $c")
      (0 until c).map(i => if (i < extra) base + 1 else base)
    }
    val offsets = widths.scanLeft(0)(_ + _)
    def chunk(i: Int) =
      shiftright(col("simhash"), offsets(i)).bitwiseAND((1L << widths(i)) - 1)
    // one row per (i<j) chunk-pair: pos identifies the combination, the
    // key packs both chunk values (widths ≤ 31 bits combined — one long)
    val pairKeys = for (i <- 0 until c; j <- i + 1 until c)
      yield shiftleft(chunk(i), widths(j)).bitwiseOR(chunk(j))
    // unordered signatures (§2.4) + in-query persist (guide §5): the
    // signature table is 16 bytes/doc and feeds BOTH self-join sides —
    // without the persist the whole tokenize → tf → 60-sum pipeline
    // evaluates twice (committed r17 q36 plan, nodes 1-12 ≍ 13-24). sf1
    // A/B (one JVM, alternating): persist 3.07/3.19 s warm-min/med vs
    // recompute 3.17/3.51. The persisted table is n×16 bytes — safe at
    // any corpus size.
    val sig = simhashSig(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = sig.select(
      col("doc_id"), col("simhash"),
      posexplode(array(pairKeys: _*)).as(Seq("combo", "key")))
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.combo") === col("b.combo") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.simhash").as("s1"), col("b.simhash").as("s2"))
      .distinct()
    cand
      .withColumn("hamming", bit_count(col("s1").bitwiseXOR(col("s2"))))
      .where(col("hamming") <= maxHamming)
      .select(col("d1"), col("d2"), col("hamming"))
      .orderBy(col("d1"), col("d2"))
  }

  /** Oracle for [[simhashPairs]]: the multi-index banding is COMPLETE for
    * Hamming ≤ maxHamming — with c = maxHamming + 2 chunks, at most
    * maxHamming chunks can contain a differing bit, so ≥ 2 chunks agree
    * exactly (pigeonhole), i.e. the pair meets on at least one of the
    * C(c,2) chunk-PAIR join keys (spec-asserted). The result set therefore
    * equals
    * the brute-force all-pairs filter — which IS expressible in DuckDB
    * (the oracle corpus is one signature row per doc, so n² stays tiny at
    * verify SF; the engine-side plan remains the banded equi-join).
    * (def, not val: refers to simhashSql defined below — object val
    * init order would read null.) */
  def simhashPairsSql: String =
    s"""WITH sh AS ($simhashSql)
       |SELECT a.doc_id AS d1, b.doc_id AS d2,
       |  bit_count(xor(a.simhash, b.simhash)) AS hamming
       |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 5
       |ORDER BY d1, d2""".stripMargin

  val simhashSql: String = {
    val sumCols = (0 until 60).map(i =>
      s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN tf ELSE -tf END) AS s$i").mkString(",\n  ")
    val orExpr = (0 until 60).map(i =>
      s"CASE WHEN s$i > 0 THEN (1::BIGINT << $i) ELSE 0 END").mkString(" | ")
    s"""WITH terms AS (
       |  SELECT doc_id, word, count(*) AS tf,
       |    CAST('0x' || substr(md5('0' || '|' || word), 1, 15) AS BIGINT) AS h
       |  FROM (SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS word
       |        FROM documents)
       |  GROUP BY doc_id, word),
       | sums AS (SELECT doc_id, $sumCols FROM terms GROUP BY doc_id)
       |SELECT doc_id, $orExpr AS simhash FROM sums ORDER BY doc_id""".stripMargin
  }

  /** Benchmark decontamination (q69): flag training documents sharing
    * any word 3-gram with a held-out benchmark set — the standard
    * pre-training hygiene step (eval answers leaking into training data
    * inflate scores). The gate face designates `doc_id % 50 == 0` as the
    * benchmark; a real pipeline passes its eval suites.
    *
    * Scale: the benchmark side is the EVAL SET — tiny by construction —
    * so its shingles broadcast and the training corpus streams once
    * through a broadcast-hash join; no shuffle of training data. The
    * per-doc countDistinct pair plans an Expand, but only over MATCHED
    * rows (contamination hits), not the corpus. */
  def decontaminate(s: SparkSession, d: String): DataFrame = {
    val sh = shingles(Tables.documents(s, d)) // distinct (doc_id, shingle)
    val bench = sh.where(col("doc_id") % 50 === 0)
      .select(col("shingle"), col("doc_id").as("bench_doc"))
    val train = sh.where(col("doc_id") % 50 =!= 0)
    train.join(broadcast(bench), "shingle")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("shingle")).as("n_shared_grams"),
        countDistinct(col("bench_doc")).as("n_bench_docs"))
      .orderBy(col("doc_id"))
  }

  def decontaminateSql: String =
    s"""WITH sh AS ($shinglesSql),
       | bench AS (SELECT shingle, doc_id AS bench_doc FROM sh WHERE doc_id % 50 = 0),
       | train AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 50 <> 0)
       |SELECT t.doc_id,
       |  count(DISTINCT t.shingle) AS n_shared_grams,
       |  count(DISTINCT b.bench_doc) AS n_bench_docs
       |FROM train t JOIN bench b USING (shingle)
       |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  /** q116 — FUZZY benchmark decontamination via a cross-corpus
    * MinHash-LSH join: q69 catches verbatim 3-gram overlap; this catches
    * PARAPHRASED/near-duplicate contamination (the leak mode exact
    * n-grams miss — eval answers lightly rewritten into training text).
    * The shape is an R-S LSH JOIN, not q34's self-join: both corpus
    * halves get the q33 portable signatures (one md5 base hash + 32
    * affine min-hashes), both band into value-keyed buckets, and the
    * candidate join is train-side × BENCH-side on (band, bucket) —
    * directional, so no d1 < d2 constraint; candidates verify by
    * estimated Jaccard ≥ 0.5 exactly as q34.
    *
    * Scale: a real eval suite is FIXED-SIZE (benchmarks don't grow with
    * the corpus), so the banded bench side broadcasts and the training
    * corpus's banded signatures stream against it — no shuffle of
    * training data beyond the per-doc signature agg (32 longs/doc). The
    * gate designates doc_id % 10 == 0 as the benchmark for determinism. */
  def lshDecontaminate(s: SparkSession, d: String, benchMod: Int = 10): DataFrame = {
    // r14: signatures come from the persisted fingerprint-keyed artifact
    // ([[minhashSigShared]] — the identical [[minhashSig]] values, signed
    // once per source content). Pre-r14 this face computed its own
    // signatures but rode the session-cached copy via CacheManager
    // subtree substitution; the artifact promotion removed that cache,
    // and the face silently re-paid the full corpus signing (bench-diff
    // caught it at +160% min-of-passes). Reading the artifact restores
    // the materialize-once shape explicitly.
    val sig = minhashSigShared(s, d)
    val banded = sigBands(sig)
    val bench = banded.where(col("doc_id") % benchMod === 0)
      .select(col("doc_id").as("bench_doc"), col("band"), col("bandhash"))
    val train = banded.where(col("doc_id") % benchMod =!= 0)
      .select(col("doc_id").as("train_doc"), col("band"), col("bandhash"))
    val cand = train.join(broadcast(bench), Seq("band", "bandhash"))
      .select(col("train_doc"), col("bench_doc")).distinct()
    cand
      .join(sig.select(col("doc_id").as("train_doc"), col("sig").as("tsig")), "train_doc")
      .join(sig.select(col("doc_id").as("bench_doc"), col("sig").as("bsig")), "bench_doc")
      .withColumn("est_jaccard", round(
        aggregate(zip_with(col("tsig"), col("bsig"), (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / K, 4))
      .where(col("est_jaccard") >= 0.5)
      .select(col("train_doc"), col("bench_doc"), col("est_jaccard"))
      .orderBy(col("train_doc"), col("bench_doc"))
  }

  /** Oracle for [[lshDecontaminate]]: the identical two-sided pipeline
    * in DuckDB — q33 signatures, value-keyed bands, directional
    * candidate join, est-Jaccard verify. */
  def lshDecontaminateSql: String = {
    val sigCols = (0 until K).map { i =>
      val (a, b) = affineConsts(i)
      s"min(($a * h + $b) % $AffineP) AS mh$i"
    }.mkString(",\n  ")
    val bandSelects = (0 until BANDS).map { b =>
      val vals = (0 until ROWS_PER_BAND).map(r => s"mh${b * ROWS_PER_BAND + r}").mkString(", ")
      s"SELECT doc_id, $b AS band, concat_ws(',', $vals) AS bucket FROM sig"
    }.mkString("\n  UNION ALL ")
    val eq = (0 until K).map(i => s"CASE WHEN s1.mh$i = s2.mh$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH s AS ($shinglesSql),
       | hs AS (SELECT doc_id,
       |   CAST('0x' || substr(md5(shingle), 1, 10) AS BIGINT) AS h FROM s),
       | sig AS (SELECT doc_id,
       |  $sigCols
       |  FROM hs GROUP BY doc_id),
       | bands AS (
       |  $bandSelects),
       | cand AS (
       |  SELECT DISTINCT t.doc_id AS train_doc, b.doc_id AS bench_doc
       |  FROM bands t JOIN bands b ON t.band = b.band AND t.bucket = b.bucket
       |  WHERE t.doc_id % 10 <> 0 AND b.doc_id % 10 = 0),
       | est AS (
       |  SELECT train_doc, bench_doc, round(($eq) / 32.0, 4) AS est_jaccard
       |  FROM cand
       |  JOIN sig s1 ON train_doc = s1.doc_id
       |  JOIN sig s2 ON bench_doc = s2.doc_id)
       |SELECT train_doc, bench_doc, est_jaccard FROM est
       |WHERE est_jaccard >= 0.5 ORDER BY train_doc, bench_doc""".stripMargin
  }

  /** q33's portable MinHash signature per document — (doc_id,
    * sig: array<long>[ [[K]] ]) — extracted from q127 so the streaming
    * admission face (q149) signs its micro-batches with the IDENTICAL
    * pipeline: shingle (dup-insensitive — min doesn't care), md5-derived
    * 60-bit base hash, K affine rehashes, per-doc column mins. */
  private[graft] def minhashSig(part: DataFrame): DataFrame = {
    val sh = shingles(part, dedup = false)
      .select(col("doc_id"), baseHash(col("shingle")).as("h"))
    val aggs = (0 until K).map(i => min(affineHash(i, col("h"))).as(s"mh$i"))
    sh.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"),
        array((0 until K).map(i => col(s"mh$i")): _*).as("sig"))
  }

  /** Banded LSH buckets of a [[minhashSig]] table: (doc_id, band,
    * bandhash) — [[BANDS]] rows per signed doc, bands derived from the
    * signature COLUMNS (no re-read of the corpus). */
  private[graft] def sigBands(sig: DataFrame): DataFrame = {
    val bucketOf: Int => Column = b => concat_ws(",",
      (0 until ROWS_PER_BAND).map(r => col("sig")(b * ROWS_PER_BAND + r).cast("string")): _*)
    sig.select(col("doc_id"),
      posexplode(array((0 until BANDS).map(bucketOf): _*)).as(Seq("band", "bandhash")))
  }

  /** SQL fragments of the portable signature pipeline, shared by the
    * q127 and q149 oracles so the DuckDB replay can never drift from
    * the one definition of the affine constants / banding layout. */
  private[graft] def sigSqlCols: String = (0 until K).map { i =>
    val (a, b) = affineConsts(i)
    s"min(($a * h + $b) % $AffineP) AS mh$i"
  }.mkString(",\n  ")
  private[graft] def bandSelectsSql: String = (0 until BANDS).map { b =>
    val vals = (0 until ROWS_PER_BAND).map(r => s"mh${b * ROWS_PER_BAND + r}").mkString(", ")
    s"SELECT doc_id, $b AS band, concat_ws(',', $vals) AS bucket FROM sig"
  }.mkString("\n  UNION ALL ")
  private[graft] def sigEqSql(l: String, r: String): String =
    (0 until K).map(i => s"CASE WHEN $l.mh$i = $r.mh$i THEN 1 ELSE 0 END")
      .mkString(" + ")
  private[graft] def shinglesSqlCte: String = shinglesSql

  /** [[shinglesSql]] reading from another relation (the q157 oracle's
    * augmented docs2 CTE) — same text, different FROM. */
  private def shinglesSqlFrom(table: String): String =
    shinglesSql.replace("FROM documents)", s"FROM $table)")

  /** q127 — INCREMENTAL (delta) DEDUP against a PERSISTED signature
    * index: the dedup face of the daily-ingest shape (q126 is the ANN
    * face). The existing corpus (doc_id % 7 ≠ 0) is signed once — q33's
    * portable MinHash signatures — and the index (signatures + banded
    * buckets, both derived WITHOUT re-reading the corpus: bands come
    * from the persisted signature table) is written to parquet. The new
    * batch (doc_id % 7 = 0) is then ADMISSION-SCREENED entirely off
    * that artifact: fresh batch signatures, band join against the
    * persisted buckets, est-Jaccard verify against the persisted
    * signatures, and a per-new-doc admit/reject verdict. The corpus
    * text is never re-shingled, re-hashed, or re-shuffled per batch.
    *
    * Differs from q116 (fuzzy decontamination) in both direction and
    * output grain: q116 emits cross-corpus PAIRS from a one-shot
    * two-sided pipeline; this emits a per-new-document admission
    * decision (n matches, first match, admitted) against an index that
    * physically round-trips disk — the gate hash therefore also proves
    * the signature parquet round-trip lossless.
    *
    * Scale: per batch the corpus-sized work is a STREAM of the
    * persisted band/sig tables through broadcast joins against the
    * (small) batch — the signing job is paid once per corpus, not per
    * batch; bands in production are bucketed by (band, bucket) so a
    * batch touches only its colliding buckets. */
  def deltaDedup(s: SparkSession, d: String): DataFrame = {
    val base = Scratch.fresh("delta_q127")
    val docs = Tables.documents(s, d)
    // the "prior run": the corpus slice's signatures come from the
    // persisted signature ARTIFACT (r14 — filter commutes with the
    // per-doc signing, identical rows), then land in this operator's
    // own index artifact so the gate still proves ITS disk round-trip
    minhashSigShared(s, d).where(col("doc_id") % 7 =!= 0)
      .write.mode("overwrite").parquet(s"$base/sig")
    val idxSig = s.read.parquet(s"$base/sig")
    sigBands(idxSig).write.mode("overwrite").parquet(s"$base/bands")
    val idxBands = s.read.parquet(s"$base/bands")
    // the "daily batch": fresh signatures for the new docs only
    val newDocs = docs.where(col("doc_id") % 7 === 0)
    val newSig = minhashSig(newDocs).cache() // batch-sized: k longs per new doc
    val newBands = sigBands(newSig)
      .select(col("doc_id").as("new_doc"), col("band"), col("bandhash"))
    val cand = idxBands
      .select(col("doc_id").as("corpus_doc"), col("band"), col("bandhash"))
      .join(broadcast(newBands), Seq("band", "bandhash"))
      .select(col("new_doc"), col("corpus_doc")).distinct()
    val matches = cand
      .join(broadcast(newSig.select(col("doc_id").as("new_doc"), col("sig").as("nsig"))), "new_doc")
      .join(idxSig.select(col("doc_id").as("corpus_doc"), col("sig").as("csig")), "corpus_doc")
      .withColumn("est_jaccard", round(
        aggregate(zip_with(col("nsig"), col("csig"), (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / K, 4))
      .where(col("est_jaccard") >= 0.5)
      .groupBy(col("new_doc"))
      .agg(count(lit(1)).as("n_corpus_dups"), min(col("corpus_doc")).as("first_dup"))
    newDocs.select(col("doc_id").as("new_doc"))
      .join(matches, Seq("new_doc"), "left")
      .select(col("new_doc"),
        coalesce(col("n_corpus_dups"), lit(0L)).as("n_corpus_dups"),
        col("first_dup"),
        col("n_corpus_dups").isNull.as("admitted"))
      .orderBy(col("new_doc"))
  }

  /** Oracle for [[deltaDedup]]: the identical two-phase pipeline in
    * DuckDB — q33 signatures for both sides, value-keyed bands,
    * directional candidate join, est-Jaccard verify, per-new-doc
    * admission roll-up. */
  def deltaDedupSql: String = {
    val sigCols = sigSqlCols
    val bandSelects = bandSelectsSql
    val eq = sigEqSql("s1", "s2")
    s"""WITH s AS ($shinglesSql),
       | hs AS (SELECT doc_id,
       |   CAST('0x' || substr(md5(shingle), 1, 10) AS BIGINT) AS h FROM s),
       | sig AS (SELECT doc_id,
       |  $sigCols
       |  FROM hs GROUP BY doc_id),
       | bands AS (
       |  $bandSelects),
       | cand AS (
       |  SELECT DISTINCT n.doc_id AS new_doc, c.doc_id AS corpus_doc
       |  FROM bands n JOIN bands c ON n.band = c.band AND n.bucket = c.bucket
       |  WHERE n.doc_id % 7 = 0 AND c.doc_id % 7 <> 0),
       | est AS (
       |  SELECT new_doc, corpus_doc, round(($eq) / 32.0, 4) AS est_jaccard
       |  FROM cand
       |  JOIN sig s1 ON new_doc = s1.doc_id
       |  JOIN sig s2 ON corpus_doc = s2.doc_id),
       | m AS (
       |  SELECT new_doc, count(*) AS n_corpus_dups, min(corpus_doc) AS first_dup
       |  FROM est WHERE est_jaccard >= 0.5 GROUP BY new_doc)
       |SELECT d.doc_id AS new_doc,
       |  CAST(coalesce(m.n_corpus_dups, 0) AS BIGINT) AS n_corpus_dups,
       |  m.first_dup,
       |  m.new_doc IS NULL AS admitted
       |FROM documents d LEFT JOIN m ON d.doc_id = m.new_doc
       |WHERE d.doc_id % 7 = 0
       |ORDER BY new_doc""".stripMargin
  }

  /** Build-once path of [[minhashLshPairsShared]]: the VERIFIED pair
    * table as a PERSISTED fingerprint-keyed artifact (r15, finishing
    * the r14 signature-artifact work — r14 verdict item 2). The r14
    * session-cache version left the pair table itself
    * eviction-exposed: q145's iterative CC re-reads it 8×, and when
    * the 191-query suite's memory pressure evicted the cached rows
    * mid-pass its driver min hit 23.96 s (quiet warm 4.6 s) — the
    * plan's floor depended on which queries ran before it. Pairs are
    * deterministic in the signatures (band buckets + the exact
    * ≥ 0.5 est-Jaccard verify, all integer/rounded math), so the disk
    * round-trip is lossless and every consumer's hash is unchanged.
    * At 100 TB this is the production shape: the duplicate-pair table
    * is materialized once next to the corpus and every keep-list /
    * cluster / audit policy derives from it — a cache is a latency
    * optimization on top, never the thing that defines the floor. */
  private def pairsArtifactDir(s: SparkSession, d: String): String =
    Scratch.artifact(s"mhpairs_v1_${Tables.sourceFingerprint(d, "documents")}") { dir =>
      pairsFromSig(minhashSigShared(s, d))
        .write.mode("overwrite").parquet(s"$dir/pairs")
    } + "/pairs"

  /** [[minhashLshPairs]] (portable variant): the pair table feeds q34
    * AND the cluster/audit consumers (q38/q107/q128/q142/q145/q151/
    * q157) — one LSH pipeline per corpus CONTENT, the honest
    * materialize-once pipeline shape.
    * r14: sourced from the persisted signature ARTIFACT
    * ([[minhashSigShared]]) — the pair mining is banding + verify over
    * the artifact scan, never a corpus re-shingle.
    * r15: the MINED PAIRS are themselves the artifact (see
    * [[pairsArtifactDir]]); consumers get a plain parquet scan of a
    * tiny table, layered behind [[SharedPlans]] only so repeat reads
    * within a pass skip the (already cheap) scan — a cache MISS now
    * costs one scan of the pair table, never the banding self-join. */
  def minhashLshPairsShared(s: SparkSession, d: String): DataFrame =
    SharedPlans.cached(s, s"minhashLshPairsPortable|$d")(
      s.read.parquet(pairsArtifactDir(s, d)))

  /** Force-build this family's fingerprint-keyed artifacts (signature
    * table + verified pair table) — called from Bench's untimed
    * warm-up so pass-1 timings measure the queries, not one-time
    * artifact builds (r14 verdict item 6). */
  def prebuildArtifacts(s: SparkSession, d: String): Unit = {
    pairsArtifactDir(s, d); () // builds sigArtifactDir transitively
  }

  /** Router threshold for [[connectedComponents]]'s small-graph fast
    * path, in EDGES (after canonicalize+distinct): at or below it the
    * edge list collects to the driver (≤ ~16 MB at the default) and a
    * union-find computes the labels in microseconds; above it the
    * distributed large-star/small-star loop runs. The q112
    * RoutePairsPerPosting discipline: a measured, physical-plan-only
    * routing decision — both branches emit the IDENTICAL label fixpoint
    * (CcSpec machine-checks them against each other and a local
    * reference on planted graphs), so correctness never depends on the
    * route. Rationale (r17 probe): dedup pair graphs at gate SFs are
    * hundreds of edges, yet every distributed round costs ~0.4 s of
    * job-scheduling fixed cost — q210 spent ~5 s iterating joins over
    * 722 edges. The collect is BOUNDED BY THE ROUTER (the count is
    * checked before any collect), the same bounded-driver-state
    * contract as q197's FFD histogram and q203's anchor pool. */
  private val CcDriverMaxEdges = 1L << 20

  /** Connected components over an undirected edge list; fixpoint = the
    * min node id of the component — a unique, engine-independent answer
    * (which is what makes it oracle-checkable; a greedy keep-list is
    * policy, a component id is math). Output: (id, comp) for every node
    * appearing in `edges`.
    *
    * r17 (r16 verdict item 3): the O(diameter)-round min-label
    * propagation loop is replaced by the ALTERNATING STAR algorithm
    * (Kiveris et al. 2014, "Connected Components in MapReduce and
    * Beyond"): repeat [large-star; small-star] on the canonical
    * (larger → smaller) edge list until the edge set is a fixpoint —
    * provably a star forest whose centers are the component minima.
    * Each half-step is one bounded groupBy + one equi-join on the edge
    * table; the propagation radius roughly doubles per iteration, so
    * rounds = O(log diameter) instead of O(diameter). (A value-label
    * pointer-jump variant was probed first and measured USELESS — the
    * min-id node in a radius-r ball has no reason to lie toward the
    * component minimum, so the radius still grew by 1/round; 14 rounds
    * on q210's graph. The star algorithm rewrites EDGES, which is what
    * actually shortens paths.)
    *
    * Small graphs (≤ [[CcDriverMaxEdges]], checked by COUNT before any
    * collect) route to a driver union-find instead: at gate scale the
    * pair graphs are a few hundred edges and the distributed loop's
    * per-round job latency dominated its faces (q210 ~5 s quiet for 722
    * edges). Consumers q38/q107/q128/q142/q145/q210 inherit both paths.
    *
    * Scale: the edge table holds only nodes INVOLVED IN PAIRS (for
    * dedup clustering, orders of magnitude smaller than the corpus).
    * `localCheckpoint` per iteration truncates the growing lineage so
    * iteration N's plan doesn't replay 1..N-1. Convergence check is a
    * count + set-difference count on the label-sized edge table —
    * bounded, never a collect of data.
    *
    * `maxIters` is a SAFETY bound, not an accuracy dial: hitting it
    * means the edges are NOT the star-forest fixpoint, so this fails
    * fast (r5 advice — a log.warn here shipped wrong component ids
    * downstream) rather than return unconverged ids. With doubling, 64
    * iterations covers any plausible graph. */
  def connectedComponents(edges: DataFrame, maxIters: Int = 64): DataFrame = {
    val spark = edges.sparkSession
    // canonical directed edge list: (u = larger id, v = smaller id)
    var e = edges
      .select(greatest(col("d1"), col("d2")).as("u"),
        least(col("d1"), col("d2")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)
    var cnt = e.count()
    val maxDriver =
      spark.conf.get("graft.cc.driverMaxEdges", CcDriverMaxEdges.toString).toLong
    if (cnt <= maxDriver) {
      // SMALL-GRAPH ROUTE: bounded collect (≤ maxDriver edges, proven by
      // the count above) + driver union-find with min-root merges — the
      // global min never loses a merge, so find() = component min id.
      val es = e.collect()
      val parent = new java.util.HashMap[Long, Long](es.length * 2)
      def find(x0: Long): Long = { // iterative: planted chains can be long
        var x = x0
        while (parent.getOrDefault(x, x) != x) {
          val p = parent.get(x)
          val gp = parent.getOrDefault(p, p)
          parent.put(x, gp) // path halving
          x = gp
        }
        x
      }
      es.foreach { r =>
        val (ra, rb) = (find(r.getLong(0)), find(r.getLong(1)))
        if (ra != rb) {
          if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
        }
      }
      val nodes = es.flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct
      // r18 (VERDICT r17 item 3): distribute via parallelize, NOT
      // createDataset — a Dataset of a driver Seq is a LocalRelation
      // literal embedded in every consumer plan (and serialized into
      // every task); near the 2²⁰-edge threshold that bloats task
      // closures. parallelize ships the rows as RDD partitions instead
      // (the pageRankDriver convention, Graph.scala). The broadcast hint
      // preserves the consumer join shape the LocalRelation's accurate
      // size stats used to give: the route bound (≤ maxDriver edges ⇒
      // ≤ 2·maxDriver label rows ≈ 32 MB) keeps it broadcastable, while
      // the bare ExistingRDD's unknown stats would flip consumers to
      // sort-merge joins.
      val labelRows = nodes.map(n =>
        org.apache.spark.sql.Row(n, find(n)): org.apache.spark.sql.Row)
      val labelSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("comp",
          org.apache.spark.sql.types.LongType, nullable = false)))
      return broadcast(spark.createDataFrame(
        spark.sparkContext.parallelize(
          scala.collection.immutable.ArraySeq.unsafeWrapArray(labelRows),
          math.max(1, math.min(spark.sparkContext.defaultParallelism, labelRows.length))),
        labelSchema))
    }
    // DISTRIBUTED ROUTE: alternating large-star / small-star
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIters) {
      // large-star: for every node n (symmetric view), m = min(Γ(n)∪{n});
      // re-point every LARGER neighbor b > n at m. Canonical (b > m) by
      // construction: m ≤ n < b.
      val sym = e.select(col("u").as("n"), col("v").as("b"))
        .unionAll(e.select(col("v").as("n"), col("u").as("b")))
      val lsMin = sym.groupBy(col("n")).agg(min(col("b")).as("mb"))
      val ls = sym.join(lsMin, "n")
        .where(col("b") > col("n"))
        .select(col("b").as("u"), least(col("mb"), col("n")).as("v"))
        .distinct()
      // small-star: on the directed list (u → v, v < u) grouped by u,
      // m = min(N(u)∪{u}) = min(v); re-point u and every other small
      // neighbor at m. Canonical again: emitted pairs are (x, m), x > m.
      val ssMin = ls.groupBy(col("u")).agg(min(col("v")).as("mv"))
      val e2 = ls.join(ssMin, "u")
        .where(col("v") =!= col("mv"))
        .select(col("v").as("u"), col("mv").as("v"))
        .unionAll(ssMin.select(col("u"), col("mv").as("v")))
        .distinct()
        .localCheckpoint(true)
      // fixpoint ⟺ edge set unchanged (the only fixpoints of the
      // alternating algorithm are star forests): counts first (one
      // cheap job on the checkpointed table), set difference only when
      // counts agree
      val cnt2 = e2.count()
      changed =
        if (cnt2 != cnt) 1L
        else e2.exceptAll(e).count()
      e = e2
      cnt = cnt2
      iter += 1
    }
    if (changed > 0)
      sys.error(s"connectedComponents did not converge within maxIters=$maxIters " +
        "(edge set still changing) — component ids would be wrong; raise maxIters")
    // star-forest sanity (fail-loud, the prefixJaccard collision-guard
    // convention): in a star forest no edge TARGET is also a SOURCE; a
    // residual chain here would silently mislabel its tail
    val chained = e.select(col("u")).intersect(e.select(col("v")).toDF("u")).count()
    if (chained > 0)
      sys.error(s"connectedComponents: converged edge set is not a star forest " +
        s"($chained chained nodes) — labels would be wrong")
    // star forest → labels: members point at their center; centers label
    // themselves (every center appears only on the v side)
    e.select(col("u").as("id"), col("v").as("comp"))
      .unionAll(e.select(col("v").as("id"), col("v").as("comp")))
      .distinct()
  }

  /** Gate face (q38): duplicate CLUSTERS from the MinHash-LSH near-dup
    * pairs — the transitive view the pairwise queries can't give (doc A
    * near B, B near C ⇒ one cluster {A,B,C} even if A-C never met in a
    * bucket). Output: every clustered doc with its component id (min
    * doc_id) and cluster size. */
  def dupClusters(s: SparkSession, d: String): DataFrame = {
    val comp = connectedComponents(
      minhashLshPairsShared(s, d).select(col("d1"), col("d2")))
    val sizes = comp.groupBy(col("comp")).agg(count(lit(1)).as("cluster_size"))
    comp.join(sizes, "comp")
      .select(col("id").as("doc_id"), col("comp").as("cluster"), col("cluster_size"))
      .orderBy(col("doc_id"))
  }

  /** Oracle for [[dupClusters]]: transitive closure by recursive CTE over
    * the SAME pair set (the full portable LSH pipeline inlined), then
    * min-reachable-id per node — a different algorithm arriving at the
    * same unique fixpoint. */
  /** Shared recursive-CTE prefix: LSH pairs → symmetric edges →
    * transitive closure → min-id components. ONE definition feeding both
    * the q38 and q107 oracles, so the two can never desynchronize on the
    * clustering (review finding: a drifted copy would silently split
    * the split unit away from the dedup clusters). */
  private def componentsCteSql: String =
    s"""pairs AS ($minhashLshPairsSql),
       | edges AS (
       |  SELECT d1 AS src, d2 AS dst FROM pairs
       |  UNION
       |  SELECT d2, d1 FROM pairs),
       | reach(a, b) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b),
       | comp AS (SELECT a AS doc_id, min(b) AS cluster FROM reach GROUP BY a)""".stripMargin

  def dupClustersSql: String =
    s"""WITH RECURSIVE $componentsCteSql,
       | sizes AS (SELECT cluster, count(*) AS cluster_size FROM comp GROUP BY cluster)
       |SELECT c.doc_id, c.cluster, s.cluster_size
       |FROM comp c JOIN sizes s USING (cluster)
       |ORDER BY c.doc_id""".stripMargin

  /** q107 — dedup-aware train/val/test split: the split UNIT is the
    * near-duplicate CLUSTER (q38's connected components over the LSH
    * pair graph), not the document, so two near-identical docs can never
    * land one in train and one in test — the leakage mode a plain
    * row-hash split (q39) cannot prevent and the reason production
    * pipelines split AFTER clustering. Singletons (docs in no pair) use
    * their own id as the unit. Assignment = the q39 md5 bucket of the
    * unit id, so the whole face is deterministic and the oracle replays
    * clusters (recursive CTE) + the split hash end-to-end.
    *
    * Scale: the component table covers only docs involved in pairs
    * (orders of magnitude below the corpus); the left join back is
    * doc_id-keyed; the split is a narrow expression. Nothing here adds
    * to the LSH pipeline's own cost. */
  def clusterSplit(s: SparkSession, d: String): DataFrame = {
    val comp = connectedComponents(
      minhashLshPairsShared(s, d).select(col("d1"), col("d2")))
      .select(col("id").as("doc_id"), col("comp"))
    val unit = Tables.documents(s, d).select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("unit"))
    Sampling.groupSplit(unit, col("unit").cast("string"))
      .orderBy(col("doc_id"))
  }

  def clusterSplitSql: String =
    s"""WITH RECURSIVE $componentsCteSql,
       | unit AS (
       |  SELECT d.doc_id, coalesce(c.cluster, d.doc_id) AS unit
       |  FROM documents d LEFT JOIN comp c USING (doc_id))
       |SELECT doc_id, unit,
       |  CASE WHEN CAST('0x' || substr(md5(CAST(unit AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 80
       |       THEN 'train'
       |       WHEN CAST('0x' || substr(md5(CAST(unit AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 90
       |       THEN 'val' ELSE 'test' END AS split
       |FROM unit ORDER BY doc_id""".stripMargin

  /** q128 — QUALITY-AWARE duplicate-cluster representative selection:
    * q38 gives the clusters; q37/q44's keep policy (min doc_id) is
    * arbitrary — production pipelines keep the BEST member of each
    * near-dup cluster, not the first. This face keeps the LONGEST
    * member (word count, the standard keep-longest-duplicate policy;
    * ties break to min doc_id so the answer is unique), and emits every
    * clustered doc with its cluster, score, representative, and verdict
    * — the per-doc provenance a curation audit needs ("why was this
    * dropped, and for which survivor?").
    *
    * Scale: rides the shared LSH pipeline (SharedPlans) like q38/q107;
    * the component table covers only pair-involved docs, the score join
    * is doc_id-keyed, and the rank window partitions by cluster —
    * bounded by cluster size, never corpus-sized. */
  def clusterReps(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comp = connectedComponents(
      minhashLshPairsShared(s, d).select(col("d1"), col("d2")))
      .select(col("id").as("doc_id"), col("comp").as("cluster"))
    val nw = Tables.documents(s, d)
      .select(col("doc_id"), size(TextAnalysis.words(col("text"))).as("nw"))
    val scored = comp.join(nw, "doc_id")
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("nw").desc, col("doc_id").asc)
    val reps = scored.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("cluster"), col("doc_id").as("rep_id"))
    scored.join(reps, "cluster")
      .select(col("doc_id"), col("cluster"), col("nw"), col("rep_id"),
        (col("doc_id") === col("rep_id")).as("kept"))
      .orderBy(col("doc_id"))
  }

  /** Oracle for [[clusterReps]]: the q38 recursive-CTE closure + the
    * same keep-longest rank, replayed end-to-end. */
  def clusterRepsSql: String =
    s"""WITH RECURSIVE $componentsCteSql,
       | nw AS (SELECT doc_id,
       |   len(regexp_extract_all(text, '[a-z0-9]+')) AS nw FROM documents),
       | scored AS (
       |  SELECT c.doc_id, c.cluster, nw.nw FROM comp c JOIN nw USING (doc_id)),
       | reps AS (
       |  SELECT cluster, doc_id AS rep_id FROM (
       |    SELECT cluster, doc_id, row_number() OVER (
       |      PARTITION BY cluster ORDER BY nw DESC, doc_id ASC) AS rn
       |    FROM scored) WHERE rn = 1)
       |SELECT s.doc_id, s.cluster, s.nw, r.rep_id,
       |  s.doc_id = r.rep_id AS kept
       |FROM scored s JOIN reps r USING (cluster)
       |ORDER BY s.doc_id""".stripMargin

  private val SpanW = 8

  /** q105 — exact substring-span dedup (the token-level complement of the
    * document-level families above; the "exact substring deduplication"
    * of Lee et al. 2021, re-expressed as relational postings instead of
    * a suffix array): find every maximal run of tokens whose length-`w`
    * windows ALL occur at more than one (doc, pos) location corpus-wide,
    * and report, per document, how many such duplicated spans it has and
    * how many tokens they cover. A training pipeline drops or trims the
    * spans; the aggregate face is what the gate hashes.
    *
    * Pipeline: posexplode tokens → per-doc `lead` window assembles each
    * w-token window's md5 (ONE sort per doc partition, the q26 idiom) →
    * corpus-wide window-hash frequency (hash-agg, map-side partials) →
    * keep positions whose window occurs >1 time (self-repeats count:
    * within-doc boilerplate IS duplicated text) → per-doc
    * gaps-and-islands merge of the overlapping [pos, pos+w-1] intervals
    * (lag + running sum, bounded per-doc window) → span count + token
    * coverage, zero-filled across all docs.
    *
    * Scale: rows = corpus tokens; the frequency table and join back are
    * hash-partitioned on the window hash (the q89 postings shape — no
    * broadcast of anything corpus-sized); islands are per-doc windows
    * over only the DUPLICATED positions. Linear in tokens at any corpus
    * size; a suffix-array formulation would be cheaper per byte but
    * needs a global sort this never does. */
  def dupSpans(docs: DataFrame, w: Int = SpanW): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val winWords = (0 until w).map(k =>
      if (k == 0) col("word") else lead(col("word"), k).over(byPos))
    // r18 NOTE (falsified, kept out): narrowing h to 16-byte binary via
    // unhex(md5(…)) — guide §2.3 narrower types; value-identical since
    // unhex is injective on md5 hex — measured SLOWER at sf1 (one-JVM
    // interleaved A/B: binary 1.72/1.84 s warm-min/med vs hex 1.61/1.73):
    // at this scale the shuffles fit in memory and the per-row unhex CPU
    // outweighs the narrower key. The hex key stays.
    val winsRaw = docs
      .select(col("doc_id"), posexplode(TextAnalysis.words(col("text"))).as(Seq("pos", "word")))
      .select(col("doc_id"), col("pos"),
        md5(concat_ws(" ", winWords: _*)).as("h"),
        lead(col("word"), w - 1).over(byPos).as("w_last"))
      .where(col("w_last").isNotNull)
      .select(col("doc_id"), col("pos"), col("h"))
    // r18 NOTE (falsified, kept out): persisting `wins` so the frequency
    // aggregate and the join-back share one evaluation of the tokenize →
    // posexplode → window pipeline was A/B'd at sf1 and came back noise
    // (warm-min 2.17 vs 2.51, warm-med 2.87 vs 2.78 — min and med
    // disagree on the ordering). The two-evaluation shape stays.
    val wins = winsRaw
    val dupH = wins.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .where(col("c") > 1).select(col("h"))
    val marked = wins.join(dupH, "h").select(col("doc_id"), col("pos"))
    // intervals [pos, pos+w-1] with equal width: merge iff gap <= w
    val isl = marked
      .withColumn("prev", lag(col("pos"), 1).over(byPos))
      .withColumn("cut",
        when(col("prev").isNull || col("pos") - col("prev") > w, 1L).otherwise(0L))
      .withColumn("island", sum(col("cut")).over(
        byPos.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val spans = isl.groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("s0"), (max(col("pos")) + w - 1).as("s1"))
    val perDoc = spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("s1") - col("s0") + 1).as("dup_tokens"))
    docs.select(col("doc_id"),
        size(TextAnalysis.words(col("text"))).cast("long").as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Gate face (q105) over the harness corpus. */
  def dupSpansGate(s: SparkSession, d: String): DataFrame =
    dupSpans(Tables.documents(s, d))

  val dupSpansSql: String = {
    val leads = (1 until SpanW).map(k => s"lead(word,$k) OVER w").mkString(" || ' ' || ")
    s"""WITH wordpos AS (
       |  SELECT doc_id,
       |    unnest(regexp_extract_all(text, '[a-z0-9]+')) AS word,
       |    generate_subscripts(regexp_extract_all(text, '[a-z0-9]+'), 1) AS pos
       |  FROM documents),
       | wins AS (
       |  SELECT doc_id, pos, md5(word || ' ' || $leads) AS h,
       |    lead(word,${SpanW - 1}) OVER w AS w_last
       |  FROM wordpos WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       | wh AS (SELECT doc_id, pos, h FROM wins WHERE w_last IS NOT NULL),
       | duph AS (SELECT h FROM wh GROUP BY h HAVING count(*) > 1),
       | marked AS (SELECT doc_id, pos FROM wh JOIN duph USING (h)),
       | isl AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN lag(pos) OVER dw IS NULL
       |         OR pos - lag(pos) OVER dw > $SpanW THEN 1 ELSE 0 END AS cut
       |  FROM marked WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)),
       | num AS (
       |  SELECT doc_id, pos, sum(cut) OVER (
       |    PARTITION BY doc_id ORDER BY pos
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM isl),
       | spans AS (
       |  SELECT doc_id, island, min(pos) AS s0, max(pos) + ${SpanW - 1} AS s1
       |  FROM num GROUP BY doc_id, island),
       | per_doc AS (
       |  SELECT doc_id, count(*) AS n_dup_spans,
       |    CAST(sum(s1 - s0 + 1) AS BIGINT) AS dup_tokens
       |  FROM spans GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CAST(len(regexp_extract_all(d.text, '[a-z0-9]+')) AS BIGINT) AS n_tokens,
       |  coalesce(p.n_dup_spans, 0) AS n_dup_spans,
       |  coalesce(p.dup_tokens, 0) AS dup_tokens
       |FROM documents d LEFT JOIN per_doc p USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q147: contamination span evidence (positional decontamination proof)
  // ---------------------------------------------------------------------

  /** q147 — CONTAMINATION SPAN EVIDENCE: q69 flags WHICH training docs
    * share benchmark 3-grams; this reports WHERE — per contaminated
    * doc, the maximal token spans covered by benchmark-shared 3-grams
    * (count, token coverage, longest run, first/last position), the
    * evidence an auditor needs to REDACT a leak rather than drop the
    * whole document (and the difference between incidental 3-word
    * collisions — short scattered spans — and a verbatim eval answer:
    * one long run).
    *
    * Pipeline: positional train-side 3-grams (the q105 lead-window
    * idiom, ONE sort per doc) ⨝ broadcast benchmark shingle set →
    * matched positions → q105's gaps-and-islands merge of the
    * [pos, pos+2] intervals → per-doc span stats + the q69 gram/doc
    * counts off the same hit table.
    *
    * Scale: the benchmark side is the EVAL SET — tiny by construction,
    * broadcast; the train corpus streams once (no shuffle of corpus
    * text; the islands window partitions by doc over MATCHED positions
    * only). */
  def contaminationSpans(s: SparkSession, d: String): DataFrame = {
    val hits = contaminationHits(s, d)
    val gramAgg = hits.groupBy(col("doc_id")).agg(
      countDistinct(col("sh")).as("n_shared_grams"),
      countDistinct(col("bench_doc")).as("n_bench_docs"))
    // r13: the islands step is the ONE shared definition ([[repSpansOf]]
    // — same w, same gap rule, same end extension), so q147's spans and
    // the q158 splice can never drift
    val spanAgg = repSpansOf(hits).groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_spans"),
      sum(col("s1") - col("s0") + 1).as("covered_tokens"),
      max(col("s1") - col("s0") + 1).cast("long").as("max_run_tokens"),
      min(col("s0")).cast("long").as("first_pos"),
      max(col("s1")).cast("long").as("last_pos"))
    gramAgg.join(spanAgg, "doc_id").orderBy(col("doc_id"))
  }

  /** The contamination hit positions behind q147/q158: every (doc_id,
    * pos, sh, bench_doc) where a training doc's positional 3-gram also
    * occurs in the benchmark slice. Split out (r13) so the span list
    * has one definition for the stats face (q147) and the splice
    * (q158). */
  private[graft] def contaminationHits(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = RepW
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val winWords = (0 until w).map(k =>
      if (k == 0) col("word") else lead(col("word"), k).over(byPos))
    val tr = Tables.documents(s, d).where(col("doc_id") % 50 =!= 0)
      .select(col("doc_id"), posexplode(words(col("text"))).as(Seq("pos", "word")))
      .select(col("doc_id"), col("pos"),
        concat_ws(" ", winWords: _*).as("sh"),
        lead(col("word"), w - 1).over(byPos).as("w_last"))
      .where(col("w_last").isNotNull)
      .select(col("doc_id"), col("pos"), col("sh"))
    val bench = shingles(Tables.documents(s, d).where(col("doc_id") % 50 === 0))
      .select(col("shingle").as("sh"), col("doc_id").as("bench_doc"))
    tr.join(broadcast(bench), "sh")
  }

  /** The q147 miner's CTE block (train positional grams → benchmark
    * join → islands → spans), shared verbatim by the q147 and q158
    * oracles — the q154/q155 `repSpanCtesSql` convention. */
  private[graft] val contamSpanCtesSql: String =
    s"""wp AS (
       |  SELECT doc_id,
       |    unnest(regexp_extract_all(text, '[a-z0-9]+')) AS word,
       |    generate_subscripts(regexp_extract_all(text, '[a-z0-9]+'), 1) - 1 AS pos
       |  FROM documents WHERE doc_id % 50 <> 0),
       | tr AS (
       |  SELECT doc_id, pos,
       |    word || ' ' || lead(word,1) OVER w || ' ' || lead(word,2) OVER w AS sh,
       |    lead(word,2) OVER w AS w_last
       |  FROM wp WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       | trh AS (SELECT doc_id, pos, sh FROM tr WHERE w_last IS NOT NULL),
       | bench AS (
       |  SELECT shingle AS sh, doc_id AS bench_doc FROM ($shinglesSql)
       |  WHERE doc_id % 50 = 0),
       | hits AS (
       |  SELECT t.doc_id, t.pos, t.sh, b.bench_doc
       |  FROM trh t JOIN bench b USING (sh)),
       | mpos AS (SELECT DISTINCT doc_id, pos FROM hits),
       | isl AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN lag(pos) OVER dw IS NULL
       |         OR pos - lag(pos) OVER dw > 3 THEN 1 ELSE 0 END AS cut
       |  FROM mpos WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)),
       | num AS (
       |  SELECT doc_id, pos, sum(cut) OVER (
       |    PARTITION BY doc_id ORDER BY pos
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM isl),
       | spans AS (
       |  SELECT doc_id, island, min(pos) AS s0, max(pos) + 2 AS s1
       |  FROM num GROUP BY doc_id, island)""".stripMargin

  /** Oracle for [[contaminationSpans]]: positional 3-grams (0-based to
    * match posexplode), benchmark join, islands, same stats. */
  val contaminationSpansSql: String =
    s"""WITH $contamSpanCtesSql,
       | gram_agg AS (
       |  SELECT doc_id, count(DISTINCT sh) AS n_shared_grams,
       |    count(DISTINCT bench_doc) AS n_bench_docs
       |  FROM hits GROUP BY doc_id),
       | span_agg AS (
       |  SELECT doc_id, count(*) AS n_spans,
       |    CAST(sum(s1 - s0 + 1) AS BIGINT) AS covered_tokens,
       |    CAST(max(s1 - s0 + 1) AS BIGINT) AS max_run_tokens,
       |    CAST(min(s0) AS BIGINT) AS first_pos,
       |    CAST(max(s1) AS BIGINT) AS last_pos
       |  FROM spans GROUP BY doc_id)
       |SELECT g.doc_id, g.n_shared_grams, g.n_bench_docs, s.n_spans,
       |  s.covered_tokens, s.max_run_tokens, s.first_pos, s.last_pos
       |FROM gram_agg g JOIN span_agg s USING (doc_id)
       |ORDER BY g.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q154: intra-document repetition spans (WHERE the boilerplate is)
  // ---------------------------------------------------------------------

  /** q154 — INTRA-DOCUMENT REPETITION SPANS: q83's Gopher repetition
    * rules FLAG a document whose duplicate-3-gram fraction is high;
    * this emits WHERE the repeated material sits — the surgical cut
    * list (the q147 redact-don't-drop stance turned inward). A position
    * is "repeated material" when its 3-gram occurs AGAIN in the same
    * document (navigation boilerplate, scraped templates, decoder
    * loops); marked positions merge into maximal spans by the q105/q147
    * gaps-and-islands rule (gap ≤ w bridges). Per affected doc: how
    * many repeated grams, how many spans, tokens covered, the longest
    * run, and coverage in integer ppm of the doc's words — clean docs
    * emit nothing.
    *
    * Scale: positional grams are the one explode (narrow, per-doc
    * bounded); the repeat mark is a count over (doc_id, gram) — a
    * hash-partitioned window, no corpus-wide state; islands sort
    * per-doc only. The q147 cost model with the benchmark join removed. */
  def intraDocRepetition(s: SparkSession, d: String): DataFrame =
    intraDocRepetitionOn(Tables.documents(s, d))

  /** Repeated-gram window width shared by the q154 miner and the q155
    * applier (the gap-bridge and the span end-extension both use it). */
  private[graft] val RepW = 3

  /** The marked positions of the q154 miner: every (doc_id, pos) whose
    * 3-gram occurs again in the same doc, with the gram and the doc's
    * word count. Split out (r13) so the span list has ONE definition
    * shared by the stats face (q154) and the splice applier (q155). */
  private[graft] def repMarked(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = RepW
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val byGram = Window.partitionBy(col("doc_id"), col("sh"))
    val winWords = (0 until w).map(k =>
      if (k == 0) col("word") else lead(col("word"), k).over(byPos))
    val wp = docs
      .select(col("doc_id"), words(col("text")).as("warr"))
      .select(col("doc_id"), size(col("warr")).as("n_words"),
        posexplode(col("warr")).as(Seq("pos", "word")))
    val grams = wp
      .select(col("doc_id"), col("n_words"), col("pos"),
        concat_ws(" ", winWords: _*).as("sh"),
        lead(col("word"), w - 1).over(byPos).as("w_last"))
      .where(col("w_last").isNotNull)
    grams
      .withColumn("cnt", count(lit(1)).over(byGram))
      .where(col("cnt") >= 2)
  }

  /** Maximal repeated-material spans (doc_id, s0, s1) of a
    * [[repMarked]] frame — the q105/q147 gaps-and-islands rule (gap ≤ w
    * bridges), span end extended by w−1 to cover the gram's tail. */
  private[graft] def repSpansOf(marked: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = RepW
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val isl = marked.select(col("doc_id"), col("pos")).distinct()
      .withColumn("prev", lag(col("pos"), 1).over(byPos))
      .withColumn("cut",
        when(col("prev").isNull || col("pos") - col("prev") > w, 1L).otherwise(0L))
      .withColumn("island", sum(col("cut")).over(
        byPos.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    isl.groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("s0"), (max(col("pos")) + w - 1).as("s1"))
  }

  /** The span miner over any (doc_id, text) frame — fixture-testable. */
  private[graft] def intraDocRepetitionOn(docs: DataFrame): DataFrame = {
    val marked = repMarked(docs)
    val gramAgg = marked.groupBy(col("doc_id")).agg(
      countDistinct(col("sh")).as("n_rep_grams"),
      max(col("n_words")).cast("long").as("n_words"))
    val spanAgg = repSpansOf(marked).groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_spans"),
      sum(col("s1") - col("s0") + 1).as("covered_tokens"),
      max(col("s1") - col("s0") + 1).cast("long").as("max_run_tokens"))
    gramAgg.join(spanAgg, "doc_id")
      .select(col("doc_id"), col("n_rep_grams"), col("n_spans"),
        col("covered_tokens"), col("max_run_tokens"), col("n_words"),
        expr("(1000000 * covered_tokens) div n_words").as("rep_ppm"))
      .orderBy(col("doc_id"))
  }

  /** The q154 miner's CTE block (positional 3-grams → repeat mark →
    * islands → spans), shared verbatim by the q154 and q155 oracles so
    * the DuckDB replay of the span list can never drift between the
    * stats face and the splice applier. */
  private[graft] val repSpanCtesSql: String =
    """wp AS (
      |  SELECT doc_id,
      |    unnest(regexp_extract_all(text, '[a-z0-9]+')) AS word,
      |    generate_subscripts(regexp_extract_all(text, '[a-z0-9]+'), 1) - 1 AS pos
      |  FROM documents),
      | nw AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS n_words
      |  FROM documents),
      | g AS (
      |  SELECT doc_id, pos,
      |    word || ' ' || lead(word,1) OVER w || ' ' || lead(word,2) OVER w AS sh,
      |    lead(word,2) OVER w AS w_last
      |  FROM wp WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      | gh AS (SELECT doc_id, pos, sh FROM g WHERE w_last IS NOT NULL),
      | rep AS (
      |  SELECT doc_id, pos, sh FROM (
      |    SELECT doc_id, pos, sh,
      |      count(*) OVER (PARTITION BY doc_id, sh) AS cnt FROM gh)
      |  WHERE cnt >= 2),
      | mpos AS (SELECT DISTINCT doc_id, pos FROM rep),
      | isl AS (
      |  SELECT doc_id, pos,
      |    CASE WHEN lag(pos) OVER dw IS NULL
      |         OR pos - lag(pos) OVER dw > 3 THEN 1 ELSE 0 END AS cut
      |  FROM mpos WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)),
      | num AS (
      |  SELECT doc_id, pos, sum(cut) OVER (
      |    PARTITION BY doc_id ORDER BY pos
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM isl),
      | spans AS (
      |  SELECT doc_id, island, min(pos) AS s0, max(pos) + 2 AS s1
      |  FROM num GROUP BY doc_id, island)""".stripMargin

  /** Oracle for [[intraDocRepetition]]: positional 3-grams (0-based),
    * per-(doc, gram) repeat mark, islands, identical stats. */
  val intraDocRepetitionSql: String =
    s"""WITH $repSpanCtesSql,
      | gram_agg AS (
      |  SELECT doc_id, CAST(count(DISTINCT sh) AS BIGINT) AS n_rep_grams
      |  FROM rep GROUP BY doc_id),
      | span_agg AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
      |    CAST(sum(s1 - s0 + 1) AS BIGINT) AS covered_tokens,
      |    CAST(max(s1 - s0 + 1) AS BIGINT) AS max_run_tokens
      |  FROM spans GROUP BY doc_id)
      |SELECT g.doc_id, g.n_rep_grams, s.n_spans, s.covered_tokens,
      |  s.max_run_tokens, nw.n_words,
      |  CAST((1000000 * s.covered_tokens) // nw.n_words AS BIGINT) AS rep_ppm
      |FROM gram_agg g
      |JOIN span_agg s USING (doc_id)
      |JOIN nw USING (doc_id)
      |ORDER BY g.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q145: incremental connected components (maintain the dedup clusters)
  // ---------------------------------------------------------------------

  /** q145 — INCREMENTAL CONNECTED COMPONENTS: maintain q38's near-dup
    * cluster labels under a day's new edges WITHOUT re-running the
    * closure over the whole pair graph — the daily-ingest face of
    * dedup clustering (q126/q127's persisted-artifact convention
    * applied to q38). "Yesterday" = components over pairs among docs
    * with id % 10 ≠ 0, persisted; "today's batch" = every pair with a
    * decile-0 endpoint.
    *
    * The update is label-space CONDENSATION (the classic union-find
    * compression, relationally): map each new edge's endpoints to
    * their persisted labels (self if unlabeled), run the closure on
    * that CONDENSED graph — nodes are prior components and new docs,
    * orders of magnitude below the full pair graph — then compose
    * final = closure(prior label). Labels are component-min doc ids
    * and mins compose through merges, so the result is EXACTLY the
    * from-scratch q38 labeling: the oracle is [[dupClustersSql]]
    * VERBATIM (the q138 stream≡batch convention) — a drifted
    * incremental update diverges the gate hash.
    *
    * Scale: the from-scratch path pays closure rounds over the whole
    * pair graph every day; this pays one broadcast-sized join of the
    * batch edges against the label artifact plus a closure over the
    * condensed graph (bounded by components touched by the batch). */
  def incrementalComponents(s: SparkSession, d: String): DataFrame = {
    val base = Scratch.fresh("inccc_q145")
    val pairs = minhashLshPairsShared(s, d).select(col("d1"), col("d2"))
    // the "prior run": yesterday's labels, persisted
    connectedComponents(
        pairs.where(col("d1") % 10 =!= 0 && col("d2") % 10 =!= 0))
      .write.mode("overwrite").parquet(s"$base/labels")
    val labels = s.read.parquet(s"$base/labels") // (id, comp)
    incrementalComponentsFrom(labels,
      pairs.where(col("d1") % 10 === 0 || col("d2") % 10 === 0))
  }

  /** The update step of [[incrementalComponents]]: persisted `labels`
    * (id, comp) + `newEdges` (d1, d2) → the full refreshed clustering
    * (doc_id, cluster, cluster_size), identical to the from-scratch
    * closure over old∪new edges. */
  private[graft] def incrementalComponentsFrom(labels: DataFrame,
      newEdges: DataFrame): DataFrame = {
    val l1 = labels.select(col("id").as("d1"), col("comp").as("c1"))
    val l2 = labels.select(col("id").as("d2"), col("comp").as("c2"))
    // condensed edge list: endpoints in label space (self if unlabeled)
    val condensedEdges = newEdges
      .join(l1, Seq("d1"), "left").join(l2, Seq("d2"), "left")
      .select(coalesce(col("c1"), col("d1")).as("d1"),
        coalesce(col("c2"), col("d2")).as("d2"))
    val condensed = connectedComponents(condensedEdges)
      .select(col("comp").as("fin"), col("id").as("node"))
    // every clustered doc: previously labeled ∪ touched by new edges
    val touched = newEdges.select(col("d1").as("id"))
      .union(newEdges.select(col("d2").as("id"))).distinct()
      .join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
    val all = labels.select(col("id"), col("comp"))
      .unionByName(touched).distinct()
    val fin = all.join(condensed, col("comp") === col("node"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("fin"), col("comp")).as("cluster"))
    val sizes = fin.groupBy(col("cluster")).agg(count(lit(1)).as("cluster_size"))
    fin.join(sizes, "cluster")
      .select(col("doc_id"), col("cluster"), col("cluster_size"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------------
  // q142: cross-snapshot dedup-delta audit
  // ---------------------------------------------------------------------

  /** q142 — CROSS-SNAPSHOT DEDUP-DELTA AUDIT: given two corpus
    * snapshots, how did the near-dup CLUSTER structure change — which
    * clusters appeared, merged, grew, shrank, churned, split, or
    * vanished? This is the "what did yesterday's crawl add" question a
    * production corpus pipeline answers daily (a burst of `appeared`/
    * `merged` clusters = a new boilerplate source entering the crawl;
    * `vanished`/`split` = takedowns or extraction changes), composing
    * q38's connected components with q139's drift framing.
    *
    * Snapshots are deterministic deciles of the corpus — "yesterday"
    * A = docs with id % 10 ≠ 0 (decile 0 arrives today), "today"
    * B = docs with id % 10 ≠ 1 (decile 1 was taken down) — overlapping
    * but NON-nested, so both directions of change are exercised.
    *
    * The scale insight: LSH band candidacy is PER-DOC, so a snapshot's
    * pair table is exactly the full-corpus pair table filtered to both
    * endpoints in the snapshot — ONE shared LSH pipeline
    * ([[minhashLshPairsShared]], the same plan q34/q38/q107/q128 ride)
    * serves both snapshots; no re-shingling, no second signature pass.
    * Components then run per snapshot on the pair-involved docs only
    * (orders of magnitude below the corpus), and the delta audit is
    * two label-table joins + bounded aggregates.
    *
    * Output, one row per audited cluster: `side` ('B' = every today-
    * cluster with its class; 'A' = only the classes today cannot see —
    * clusters that `split` across ≥2 today-clusters or `vanished`),
    * member count, how many counterpart clusters its members map to
    * (`n_linked`), members with no counterpart cluster (`n_exclusive`:
    * new docs or prior singletons), and the class. */
  def dedupDelta(s: SparkSession, d: String): DataFrame =
    dedupDeltaFromPairs(
      minhashLshPairsShared(s, d).select(col("d1"), col("d2")),
      _ % 10 =!= 0, _ % 10 =!= 1)

  /** Core of [[dedupDelta]] over an explicit pair table and snapshot
    * membership predicates (a pair belongs to a snapshot iff BOTH
    * endpoints do). Class rules, B side, in priority order:
    * `appeared` (no member was in any A-cluster), `merged` (members
    * span ≥2 A-clusters), then for the single-prior-cluster case with
    * `one_from_a` = members inherited from it and `one_a_size` = its
    * full size: `churned` (gained new members AND lost prior ones),
    * `grown` (gained only), `shrunk` (lost only), `unchanged`. A side:
    * `vanished` (members in no B-cluster), `split` (≥2 B-clusters);
    * the 1-linked A rows are exactly the B-side story and are omitted. */
  private[graft] def dedupDeltaFromPairs(pairs: DataFrame,
      inA: Column => Column, inB: Column => Column): DataFrame = {
    val compA = connectedComponents(
        pairs.where(inA(col("d1")) && inA(col("d2"))))
      .select(col("id").as("doc_id"), col("comp").as("ca"))
    val compB = connectedComponents(
        pairs.where(inB(col("d1")) && inB(col("d2"))))
      .select(col("id").as("doc_id"), col("comp").as("cb"))
    val aSizes = compA.groupBy(col("ca")).agg(count(lit(1)).as("a_size"))
    val mB = compB.join(compA, Seq("doc_id"), "left")
    val bAgg = mB.groupBy(col("cb")).agg(
      count(lit(1)).as("n_members"),
      countDistinct(col("ca")).as("n_linked"),
      sum(when(col("ca").isNull, 1L).otherwise(0L)).as("n_exclusive"))
    // single-prior-cluster stats: for n_linked == 1 rows there is
    // exactly one (cb, ca) link, so min() reads it; other rows ignore
    // these columns (their class resolves before the CASE reaches them)
    val linkStats = mB.where(col("ca").isNotNull)
      .groupBy(col("cb"), col("ca")).agg(count(lit(1)).as("n_from_a"))
      .join(aSizes, "ca")
      .groupBy(col("cb"))
      .agg(min(col("n_from_a")).as("one_from_a"),
        min(col("a_size")).as("one_a_size"))
    val bRows = bAgg.join(linkStats, Seq("cb"), "left").select(
      lit("B").as("side"), col("cb").as("cluster"),
      col("n_members"), col("n_linked"), col("n_exclusive"),
      when(col("n_linked") === 0, "appeared")
        .when(col("n_linked") >= 2, "merged")
        .when(col("n_exclusive") > 0 && col("one_from_a") < col("one_a_size"), "churned")
        .when(col("n_exclusive") > 0, "grown")
        .when(col("one_from_a") < col("one_a_size"), "shrunk")
        .otherwise("unchanged").as("delta_class"))
    val aRows = compA.join(compB, Seq("doc_id"), "left")
      .groupBy(col("ca")).agg(
        count(lit(1)).as("n_members"),
        countDistinct(col("cb")).as("n_linked"),
        sum(when(col("cb").isNull, 1L).otherwise(0L)).as("n_exclusive"))
      .where(col("n_linked") =!= 1)
      .select(lit("A").as("side"), col("ca").as("cluster"),
        col("n_members"), col("n_linked"), col("n_exclusive"),
        when(col("n_linked") === 0, "vanished").otherwise("split").as("delta_class"))
    bRows.unionByName(aRows).orderBy(col("side"), col("cluster"))
  }

  /** Oracle for [[dedupDelta]]: the portable LSH pair pipeline once,
    * both snapshot filters, two recursive-CTE closures (the q38
    * construction per snapshot), and the same delta classification. */
  val dedupDeltaSql: String =
    s"""WITH RECURSIVE pairs AS ($minhashLshPairsSql),
       | pa AS (SELECT d1, d2 FROM pairs WHERE d1 % 10 != 0 AND d2 % 10 != 0),
       | pb AS (SELECT d1, d2 FROM pairs WHERE d1 % 10 != 1 AND d2 % 10 != 1),
       | ea AS (SELECT d1 AS src, d2 AS dst FROM pa UNION SELECT d2, d1 FROM pa),
       | eb AS (SELECT d1 AS src, d2 AS dst FROM pb UNION SELECT d2, d1 FROM pb),
       | ra(a, b) AS (
       |  SELECT src, src FROM ea
       |  UNION
       |  SELECT r.a, e.dst FROM ra r JOIN ea e ON e.src = r.b),
       | rb(a, b) AS (
       |  SELECT src, src FROM eb
       |  UNION
       |  SELECT r.a, e.dst FROM rb r JOIN eb e ON e.src = r.b),
       | compa AS (SELECT a AS doc_id, min(b) AS ca FROM ra GROUP BY a),
       | compb AS (SELECT a AS doc_id, min(b) AS cb FROM rb GROUP BY a),
       | asizes AS (SELECT ca, count(*) AS a_size FROM compa GROUP BY ca),
       | mb AS (SELECT b.doc_id, b.cb, a.ca
       |        FROM compb b LEFT JOIN compa a USING (doc_id)),
       | bagg AS (
       |  SELECT cb, count(*) AS n_members, count(DISTINCT ca) AS n_linked,
       |    CAST(sum(CASE WHEN ca IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_exclusive
       |  FROM mb GROUP BY cb),
       | link AS (
       |  SELECT cb, ca, count(*) AS n_from_a FROM mb
       |  WHERE ca IS NOT NULL GROUP BY cb, ca),
       | linkstats AS (
       |  SELECT l.cb, min(l.n_from_a) AS one_from_a, min(s.a_size) AS one_a_size
       |  FROM link l JOIN asizes s USING (ca) GROUP BY l.cb),
       | brows AS (
       |  SELECT 'B' AS side, g.cb AS cluster, g.n_members, g.n_linked,
       |    g.n_exclusive,
       |    CASE WHEN g.n_linked = 0 THEN 'appeared'
       |         WHEN g.n_linked >= 2 THEN 'merged'
       |         WHEN g.n_exclusive > 0 AND ls.one_from_a < ls.one_a_size THEN 'churned'
       |         WHEN g.n_exclusive > 0 THEN 'grown'
       |         WHEN ls.one_from_a < ls.one_a_size THEN 'shrunk'
       |         ELSE 'unchanged' END AS delta_class
       |  FROM bagg g LEFT JOIN linkstats ls USING (cb)),
       | arows AS (
       |  SELECT 'A' AS side, ca AS cluster, count(*) AS n_members,
       |    count(DISTINCT cb) AS n_linked,
       |    CAST(sum(CASE WHEN cb IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_exclusive,
       |    CASE WHEN count(DISTINCT cb) = 0 THEN 'vanished'
       |         ELSE 'split' END AS delta_class
       |  FROM compa a LEFT JOIN compb b USING (doc_id)
       |  GROUP BY ca HAVING count(DISTINCT cb) != 1)
       |SELECT side, cluster, n_members, n_linked, n_exclusive, delta_class
       |FROM brows
       |UNION ALL
       |SELECT side, cluster, n_members, n_linked, n_exclusive, delta_class
       |FROM arows
       |ORDER BY side, cluster""".stripMargin

  /** q170 — CROSS-DOCUMENT REPEATED-BLOCK DEDUP (the CCNet/RefinedWeb
    * boilerplate cut): document-level dedup (q30/q34) keeps one copy of
    * a duplicated DOCUMENT, but web-scale corpora mostly repeat
    * FRAGMENTS — navigation chrome, license footers, quote chains —
    * embedded in otherwise-unique pages. This operator hashes every
    * non-overlapping `blockWords`-word block, counts identical blocks
    * CORPUS-WIDE, and splices out of each document every block that
    * appears more than once anywhere — the q155 redact-don't-drop
    * stance applied at corpus scope (q142's repetition spans are
    * intra-doc; this is its cross-doc sibling). Output per document:
    * block count, dropped count, and the spliced text (surviving blocks
    * rejoined in position order — deterministic, engine-exact strings).
    *
    * Scale: blocks are built IN-ROW (the shingles idiom — no per-doc
    * window sort), the corpus-wide count is ONE map-side-combinable
    * shuffle on block text, the flag-back is an equi-join against the
    * (small, boilerplate-sized) hot-block set which the planner
    * size-routes, and the splice is one per-doc aggregate. Nothing
    * pairwise, nothing quadratic — the same cost class as q34's
    * signature pass. */
  def blockDedup(s: SparkSession, d: String, blockWords: Int = 8): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val blockArr = when(size(col("w")) > 0,
      transform(sequence(lit(0), ((size(col("w")) - 1) / blockWords).cast("int")),
        i => array_join(slice(col("w"), i * blockWords + 1, lit(blockWords)), " ")))
      .otherwise(array().cast("array<string>"))
    // count/flag key = the 60-bit md5 prefix (the suite's portable
    // hash), NOT the raw block string: the corpus-wide count is the
    // op's one big int-only shuffle and 8-byte keys move ~6× less than
    // ~50-byte block text (sf30 probe: the string-keyed first cut was
    // the whole cost — 84–122 s). The oracle hashes identically, so
    // even a collision (over-dropping a block) replays bit-for-bit in
    // both engines.
    val blocks = docs
      .select(col("doc_id"),
        regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0)).as("w"))
      .select(col("doc_id"), posexplode(blockArr).as(Seq("blk", "btext")))
      .withColumn("bh",
        conv(substring(md5(col("btext")), 1, 15), 16, 10).cast("long"))
    // corpus-wide counts; the >1 set is the boilerplate table — small by
    // the problem's own premise, so the flag join size-routes to a
    // broadcast hash join (it does statically at every measured SF;
    // zero extra exchange on the block rows). NO forced hint: a crawl
    // whose hot set outgrows the broadcast threshold should degrade to
    // a shuffle join, not OOM the driver (the r12 pairDocs rule).
    val hot = blocks.select(col("bh"))
      .groupBy(col("bh")).agg(count(lit(1)).as("c"))
      .where(col("c") > 1).select(col("bh"), lit(true).as("hot"))
    // r15 (probe_r15 + plan audit): this REVERTS the r14 "in-row
    // splice" rework, on its PREMISE, not on speed. The rework claimed
    // block text never shuffles — the plan shows otherwise: its per-doc
    // verdict table is CORPUS-cardinality, so the join back SMJ-shuffles
    // the text-bearing side anyway, plus an exploded-hash SMJ exchange
    // for the flag join (which this shape gets as a static broadcast).
    // Warmed quiet interleaved min-of-reps put the two shapes in the
    // SAME BAND, direction flipping with SF (sf10: in-row 4.4 vs 5.9 s;
    // sf30: struct 21.4 vs 23.9 s) — so the simpler plan ships: one
    // less exchange, and text moves through exactly ONE exchange (the
    // map-side-combined per-doc aggregate whose partial buffers hold
    // each doc's surviving blocks), which is the floor for a
    // non-bucketed corpus — any splice must co-locate a doc's text with
    // its verdicts once. On a bucketed corpus (the q90 discipline) even
    // that exchange disappears. The A/B is recorded in probe_r15.txt.
    val flagged = blocks.join(hot, Seq("bh"), "left")
      .select(col("doc_id"), col("blk"), col("btext"),
        coalesce(col("hot"), lit(false)).as("hot"))
    val per = flagged.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("hot"), 1L).otherwise(0L)).as("n_dropped"),
        array_join(transform(array_sort(collect_list(
            when(!col("hot"), struct(col("blk"), col("btext"))))),
          b => b.getField("btext")), " ").as("text_clean"))
    docs.select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_blocks"), lit(0L)).as("n_blocks"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
      .orderBy(col("doc_id"))
  }

  /** Oracle for [[blockDedup]] (8-word blocks, corpus-wide count > 1). */
  val blockDedupSql: String =
    """WITH wp AS (
      |  SELECT doc_id,
      |    unnest(regexp_extract_all(text, '[a-z0-9]+')) AS w,
      |    generate_subscripts(regexp_extract_all(text, '[a-z0-9]+'), 1) AS pos
      |  FROM documents),
      | blocks AS (
      |  SELECT doc_id, (pos - 1) // 8 AS blk,
      |    string_agg(w, ' ' ORDER BY pos) AS btext
      |  FROM wp GROUP BY 1, 2),
      | hashed AS (
      |  SELECT doc_id, blk, btext,
      |    CAST('0x' || substr(md5(btext), 1, 15) AS BIGINT) AS bh
      |  FROM blocks),
      | bc AS (SELECT bh, CAST(count(*) AS BIGINT) AS c
      |        FROM hashed GROUP BY 1),
      | flagged AS (
      |  SELECT b.doc_id, b.blk, b.btext, bc.c > 1 AS hot
      |  FROM hashed b JOIN bc ON b.bh = bc.bh),
      | per AS (
      |  SELECT doc_id,
      |    CAST(count(*) AS BIGINT) AS n_blocks,
      |    CAST(count(*) FILTER (WHERE hot) AS BIGINT) AS n_dropped,
      |    coalesce(string_agg(btext, ' ' ORDER BY blk) FILTER (WHERE NOT hot),
      |      '') AS text_clean
      |  FROM flagged GROUP BY doc_id)
      |SELECT d.doc_id,
      |  coalesce(per.n_blocks, 0) AS n_blocks,
      |  coalesce(per.n_dropped, 0) AS n_dropped,
      |  coalesce(per.text_clean, '') AS text_clean
      |FROM documents d LEFT JOIN per USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  /** q187 — NORMALIZED-FORM (canonical) EXACT DEDUP: the first thing
    * CCNet-class web pipelines actually hash is not the raw text but a
    * CANONICAL form — case-folded, punctuation/whitespace collapsed —
    * because the web duplicates content with trivial formatting drift
    * (shouting mirrors, smart quotes, trailing whitespace) that raw
    * md5 (q30) treats as unique. This face measures exactly that gap:
    * per source, raw docs vs q30-unique vs canonical-unique, with the
    * extra duplicates normalization surfaced. The corpus has no natural
    * formatting twins (it is generated), so the face PLANTS them — the
    * q157 canary convention: every doc with id % 40 = 3 gets a twin at
    * −id−1000000 (provably disjoint id space) whose text is uppercased
    * with trailing whitespace. Raw hashing finds none of them;
    * canonical hashing must reject every one — so extra_dups per
    * source = planted twins per source, a measurement with a known
    * right answer, oracle-replayed end-to-end.
    *
    * Scale: canonicalization is a narrow map; both uniqueness counts
    * ride ONE fingerprint hash-agg each (map-side combined). Nothing
    * pairwise — this is q30's cost with a cheaper-than-MinHash recall
    * bump, which is why production runs it FIRST in the dedup cascade
    * (canonical exact → MinHash → semantic). */
  def normalizedDedup(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"), col("text"))
    val twins = docs.where(pmod(col("doc_id"), lit(40)) === 3)
      .select((-col("doc_id") - 1000000L).as("doc_id"), col("source"),
        concat(upper(col("text")), lit("  ")).as("text"))
    val corpus = docs.unionAll(twins)
    val canon = trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))
    corpus.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_exact_unique"),
        countDistinct(md5(canon)).as("n_norm_unique"))
      .select(col("source"), col("n_docs"), col("n_exact_unique"),
        col("n_norm_unique"),
        (col("n_exact_unique") - col("n_norm_unique")).as("extra_dups"))
      .orderBy(col("source"))
  }

  /** Oracle for [[normalizedDedup]]: the twin splice + both fingerprint
    * distincts replayed (DuckDB regexp_replace needs the 'g' flag for
    * the replace-all Spark defaults to). */
  val normalizedDedupSql: String =
    """WITH corpus AS (
      |  SELECT doc_id, source, text FROM documents
      |  UNION ALL
      |  SELECT -doc_id - 1000000, source, upper(text) || '  '
      |  FROM documents WHERE doc_id % 40 = 3)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_exact_unique,
      |  CAST(count(DISTINCT md5(trim(regexp_replace(lower(text),
      |    '[^a-z0-9]+', ' ', 'g')))) AS BIGINT) AS n_norm_unique,
      |  CAST(count(DISTINCT md5(text)) -
      |       count(DISTINCT md5(trim(regexp_replace(lower(text),
      |         '[^a-z0-9]+', ' ', 'g')))) AS BIGINT) AS extra_dups
      |FROM corpus GROUP BY source
      |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // q209: containment pairs (asymmetric near-dup — Broder containment)
  // ---------------------------------------------------------------------

  /** Asymmetric near-dup pairs by Broder CONTAINMENT — c(a⊂b) =
    * |Sₐ∩S_b| / |Sₐ| — the metric that catches what Jaccard (q32)
    * structurally cannot: a document SUBSUMED by a larger one (a quoted
    * article inside a page, a chunk re-shipped inside its source). A
    * half-length copy has containment 1.0 but Jaccard ≈ 0.5⁻ — exactly
    * at/below q32's threshold, invisible there by construction.
    *
    * The gate PLANTS that case (the q157/q187 canary convention): for
    * every doc_id % 77 = 5, a negative-id twin carrying the first half
    * of its text — each must flag with containment ≈ 1.0 on the half
    * side.
    *
    * Scale: identical machinery and argument as [[jaccardPairs]] — the
    * shingle df cap bounds the self-join at Σf² ≤ maxDf·|postings|
    * (linear), sizes and commons both live in the capped universe, and
    * the oracle applies the same cap, so the scores are exact within
    * that universe. Both directions reported; flag = max side ≥ 0.9. */
  def containmentPairs(s: SparkSession, d: String, maxDf: Int = 100,
      t: Double = 0.9): DataFrame = {
    val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val spliced = base.unionByName(
      base.where(col("doc_id") % 77 === 5)
        .select((-col("doc_id") - 2000000L).as("doc_id"),
          substring(col("text"), lit(1), (length(col("text")) / 2).cast("int"))
            .as("text")))
    val shAll = shingles(spliced)
    val rare = shAll.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf).select(col("shingle"))
    // cached like jaccardPairsFrom: the capped postings feed the size
    // agg AND both sides of the self-join - three scans of one compute
    val sh = shAll.join(rare, "shingle").cache()
    val counts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("ns"))
    val common = sh.as("a")
      .join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(counts.select(col("doc_id"), col("ns").as("ns1")),
        col("d1") === col("doc_id")).drop("doc_id")
      .join(counts.select(col("doc_id"), col("ns").as("ns2")),
        col("d2") === col("doc_id")).drop("doc_id")
      .withColumn("c1", round(col("n_common").cast("double") / col("ns1"), 4))
      .withColumn("c2", round(col("n_common").cast("double") / col("ns2"), 4))
      .where(greatest(col("c1"), col("c2")) >= t)
      .select(col("d1"), col("d2"), col("n_common"), col("c1"), col("c2"))
      .orderBy(col("d1"), col("d2"))
  }

  /** Oracle for [[containmentPairs]]: the half-text splice, the same df
    * cap, and both containment directions replayed. */
  val containmentPairsSql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT -doc_id - 2000000, substr(text, 1, CAST(length(text) // 2 AS INT))
      |  FROM documents WHERE doc_id % 77 = 5),
      | s0 AS (
      |  SELECT DISTINCT doc_id, shingle FROM (
      |    SELECT doc_id,
      |      word || ' ' || lead(word,1) OVER w || ' ' || lead(word,2) OVER w AS shingle
      |    FROM (
      |      SELECT doc_id,
      |        unnest(regexp_extract_all(text, '[a-z0-9]+')) AS word,
      |        generate_subscripts(regexp_extract_all(text, '[a-z0-9]+'), 1) AS pos
      |      FROM corpus)
      |    WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
      |  WHERE shingle IS NOT NULL),
      | rare AS (SELECT shingle FROM s0 GROUP BY shingle HAVING count(*) <= 100),
      | s AS (SELECT s0.* FROM s0 JOIN rare USING (shingle)),
      | n AS (SELECT doc_id, count(*) AS ns FROM s GROUP BY doc_id),
      | common AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_common
      |  FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT d1, d2, CAST(n_common AS BIGINT) AS n_common,
      |  round(CAST(n_common AS DOUBLE) / n1.ns, 4) AS c1,
      |  round(CAST(n_common AS DOUBLE) / n2.ns, 4) AS c2
      |FROM common
      |JOIN n n1 ON n1.doc_id = d1
      |JOIN n n2 ON n2.doc_id = d2
      |WHERE greatest(round(CAST(n_common AS DOUBLE) / n1.ns, 4),
      |               round(CAST(n_common AS DOUBLE) / n2.ns, 4)) >= 0.9
      |ORDER BY d1, d2""".stripMargin

  // ---------------------------------------------------------------------
  // q206: cross-doc n-gram duplication coverage (the Lee et al. metric)
  // ---------------------------------------------------------------------

  /** Cross-document n-gram duplication COVERAGE per source — the
    * headline audit number of Lee et al. 2022 ("Deduplicating Training
    * Data Makes Language Models Better"): what fraction of each
    * source's 3-gram INSTANCES is text that also occurs in at least
    * one other document? q30/q88/q170 *remove* duplication at doc /
    * chunk / block granularity; this face *measures* what's left at
    * token granularity — the number that says whether those passes
    * were enough, per corpus slice.
    *
    * Exactness: pure counting — instances from the same 3-word shingle
    * builder every dedup face uses ([[shingles]], dedup = false), a
    * gram is "duplicated" iff it appears in ≥ 2 DISTINCT docs, coverage
    * in integer ppm by `div`.
    *
    * Scale: the postings shape, with NO pair join anywhere — a
    * stop-shingle in f docs costs f² in a pair join (the q32/q112
    * hazard) but only f here: instances aggregate to (doc, gram)
    * counts (one token-volume shuffle, the same cost class as the
    * MinHash family's explode), gram-level doc counts aggregate from
    * ≤ one row per (doc, gram), and the dup flag returns to the
    * (doc, gram) table via a LINEAR equi-join on gram (broadcast at
    * gate SFs via AQE; co-partitioned hash join at scale — both sides
    * are already gram-keyed aggregates). The final rollup is
    * |sources|-bounded. */
  def ngramDupCoverage(s: SparkSession, d: String): DataFrame =
    ngramDupCoverageOn(Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("text")))

  /** [[ngramDupCoverage]] over an explicit (doc_id, source, text)
    * frame — the spec's fixture entry. */
  private[graft] def ngramDupCoverageOn(docs: DataFrame): DataFrame = {
    val inst = shingles(docs, dedup = false) // (doc_id, shingle) instances
    val perDoc = inst.groupBy(col("doc_id"), col("shingle"))
      .agg(count(lit(1)).as("c"))
    val grams = perDoc.groupBy(col("shingle"))
      .agg(count(lit(1)).as("n_docs"))
    perDoc.join(grams, Seq("shingle"))
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(sum(col("c")).cast("long").as("n_inst"),
        sum(when(col("n_docs") >= 2, col("c")).otherwise(lit(0L)))
          .cast("long").as("dup_inst"))
      .withColumn("dup_ppm", expr("(1000000 * dup_inst) div greatest(n_inst, 1L)"))
      .orderBy(col("source"))
  }

  /** Oracle for [[ngramDupCoverage]]: the instance stream (lead-window
    * shingles, no distinct), gram-level distinct-doc counts, dup flag
    * joined back, per-source rollup with `//`. */
  val ngramDupCoverageSql: String =
    """WITH inst0 AS (
      |  SELECT doc_id,
      |    word || ' ' || lead(word,1) OVER w || ' ' || lead(word,2) OVER w AS shingle
      |  FROM (
      |    SELECT doc_id,
      |      unnest(regexp_extract_all(text, '[a-z0-9]+')) AS word,
      |      generate_subscripts(regexp_extract_all(text, '[a-z0-9]+'), 1) AS pos
      |    FROM documents)
      |  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      | inst AS (SELECT doc_id, shingle FROM inst0 WHERE shingle IS NOT NULL),
      | grams AS (
      |  SELECT shingle, count(DISTINCT doc_id) AS n_docs
      |  FROM inst GROUP BY shingle),
      | flagged AS (
      |  SELECT i.doc_id, CASE WHEN g.n_docs >= 2 THEN 1 ELSE 0 END AS dup
      |  FROM inst i JOIN grams g USING (shingle))
      |SELECT d.source,
      |  CAST(count(*) AS BIGINT) AS n_inst,
      |  CAST(sum(f.dup) AS BIGINT) AS dup_inst,
      |  CAST((1000000 * sum(f.dup)) // greatest(count(*), 1) AS BIGINT)
      |    AS dup_ppm
      |FROM flagged f JOIN documents d USING (doc_id)
      |GROUP BY d.source ORDER BY d.source""".stripMargin
}
