package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators over `documents` (SURVEY.md §2B; BASELINE.json
  * north_star: language-ID, quality scoring, token counting, document
  * fingerprinting). All pure built-in expressions — regexp extraction and
  * higher-order functions — so every operator runs inside whole-stage
  * codegen with no UDFs, and each has an exact DuckDB oracle.
  *
  * Scale: every operator here is embarrassingly parallel per document
  * (narrow, no shuffle except the final aggregation where noted); at
  * 100 TB the cost is one scan.
  */
object TextAnalysis {

  private val wordPat = "[a-z0-9]+"
  // BPE-ish pre-tokenizer: letter runs, digit runs, single non-space
  // symbol (package-visible: q193's token mixture budgets with the same
  // token definition the counting faces use)
  private[ops] val tokenPat = "[a-z]+|[0-9]+|[^a-z0-9\\s]"
  private val stopPat = "\\b(the|a|of|and|in|to|is)\\b"

  def words(c: Column): Column = regexp_extract_all(c, lit(wordPat), lit(0))

  /** Per-document quality statistics: char/word/distinct-word counts,
    * stopword ratio, mean word length. */
  def textStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        length(col("text")).as("n_chars_m"),
        size(words(col("text"))).as("n_words"),
        size(array_distinct(words(col("text")))).as("n_distinct_words"),
        round(size(regexp_extract_all(col("text"), lit(stopPat), lit(0)))
          .cast("double") / size(words(col("text"))), 4).as("stopword_ratio"),
        round(length(regexp_replace(col("text"), "[^a-z0-9]", ""))
          .cast("double") / size(words(col("text"))), 4).as("avg_word_len"))

  val textStatsSql: String =
    """SELECT doc_id,
      |  length(text) AS n_chars_m,
      |  len(regexp_extract_all(text, '[a-z0-9]+')) AS n_words,
      |  len(list_distinct(regexp_extract_all(text, '[a-z0-9]+'))) AS n_distinct_words,
      |  round(len(regexp_extract_all(text, '\b(the|a|of|and|in|to|is)\b'))::DOUBLE
      |        / len(regexp_extract_all(text, '[a-z0-9]+')), 4) AS stopword_ratio,
      |  round(length(regexp_replace(text, '[^a-z0-9]', '', 'g'))::DOUBLE
      |        / len(regexp_extract_all(text, '[a-z0-9]+')), 4) AS avg_word_len
      |FROM documents""".stripMargin

  /** Token counting with the BPE-ish pre-tokenizer, aggregated per lang:
    * the "how many tokens is this corpus" pipeline question. Narrow map +
    * one tiny agg shuffle (5 langs). */
  def tokenCounts(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("lang"),
        size(regexp_extract_all(col("text"), lit(tokenPat), lit(0))).as("n_tokens"))
      .groupBy(col("lang"))
      .agg(sum(col("n_tokens")).as("total_tokens"),
        round(avg(col("n_tokens")), 4).as("avg_tokens"),
        count(lit(1)).as("n_docs"))
      .orderBy(col("lang"))

  val tokenCountsSql: String =
    """SELECT lang,
      |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
      |  round(avg(n_tokens), 4) AS avg_tokens,
      |  count(*) AS n_docs
      |FROM (SELECT lang,
      |        len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_tokens
      |      FROM documents)
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** Heuristic language-ID: stopword-list scores per language, argmax with
    * a fixed tie-break order. (The synthetic corpus shares one vocabulary,
    * so the labels aren't recoverable — the operator's contract is
    * determinism, checked against the oracle; accuracy is a data
    * property.) */
  /** The q22 n-gram detector as a column over `text` — shared by the
    * per-doc face (q22) and the per-cell mismatch audit (q194). */
  private def langPred: Column = {
    val t = col("text")
    def score(pat: String): Column =
      size(regexp_extract_all(t, lit(pat), lit(0)))
    val en = score("\\b(the|and|of|is|to)\\b")
    val es = score("\\b(el|la|de|que|los)\\b")
    val de = score("\\b(der|die|das|und|ist)\\b")
    val fr = score("\\b(le|la|les|et|est)\\b")
    when(en >= greatest(es, de, fr), "en")
      .when(es >= greatest(de, fr), "es")
      .when(de >= fr, "de")
      .otherwise("fr")
  }

  def langId(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"), col("lang").as("lang_label"),
      langPred.as("lang_pred"))

  val langIdSql: String =
    """SELECT doc_id, lang AS lang_label,
      |  CASE
      |    WHEN s_en >= greatest(s_es, s_de, s_fr) THEN 'en'
      |    WHEN s_es >= greatest(s_de, s_fr) THEN 'es'
      |    WHEN s_de >= s_fr THEN 'de'
      |    ELSE 'fr' END AS lang_pred
      |FROM (SELECT doc_id, lang,
      |  len(regexp_extract_all(text, '\b(the|and|of|is|to)\b')) AS s_en,
      |  len(regexp_extract_all(text, '\b(el|la|de|que|los)\b')) AS s_es,
      |  len(regexp_extract_all(text, '\b(der|die|das|und|ist)\b')) AS s_de,
      |  len(regexp_extract_all(text, '\b(le|la|les|et|est)\b')) AS s_fr
      |  FROM documents)""".stripMargin

  /** q194 — DECLARED-vs-DETECTED LANGUAGE AUDIT: per (source,
    * declared-lang) cell, how often the n-gram detector (q22's exact
    * heuristic) disagrees with the metadata label, and which wrong
    * language it most often detects. Declared `lang` columns in crawled
    * corpora are routinely wrong for whole subsets (boilerplate-heavy
    * sites, mirrored content, mislabeled dumps); a mixture built on the
    * label (q84/q185/q193 all cell on it) silently mis-allocates unless
    * this audit runs first. mismatch_ppm is exact integer ppm;
    * top_wrong_pred is the modal mismatched prediction (ties to the
    * lexicographically smallest, so the mode is engine-exact), NULL for
    * cells with zero mismatch — both engines agree on the degenerate
    * case (the q180 lesson).
    *
    * Scale: one corpus scan into a map-side-combined
    * (source, label, pred) aggregate — at most |sources|·|langs|² rows —
    * then a second bounded agg; nothing corpus-sized shuffles. */
  def langMismatchAudit(s: SparkSession, d: String): DataFrame = {
    val mismatch = col("lang_pred") =!= col("lang_label")
    val cells = Tables.documents(s, d)
      .select(col("source"), col("lang").as("lang_label"),
        langPred.as("lang_pred"))
      .groupBy(col("source"), col("lang_label"), col("lang_pred"))
      .agg(count(lit(1)).as("c"))
    cells.groupBy(col("source"), col("lang_label"))
      .agg(sum(col("c")).as("n_docs"),
        sum(when(mismatch, col("c")).otherwise(0L)).as("n_mismatch"),
        min_by(when(mismatch, col("lang_pred")),
          when(mismatch, struct((-col("c")).as("nc"),
            col("lang_pred").as("p")))).as("top_wrong_pred"))
      .select(col("source"), col("lang_label"), col("n_docs"),
        col("n_mismatch"),
        expr("(n_mismatch * 1000000L) div n_docs").as("mismatch_ppm"),
        col("top_wrong_pred"))
      .orderBy(col("source"), col("lang_label"))
  }

  /** Oracle for [[langMismatchAudit]]: q22's detector replayed, cell
    * counts, modal wrong prediction via a rank window. */
  val langMismatchAuditSql: String =
    """WITH p AS (
      |  SELECT source, lang AS lang_label,
      |    CASE
      |      WHEN s_en >= greatest(s_es, s_de, s_fr) THEN 'en'
      |      WHEN s_es >= greatest(s_de, s_fr) THEN 'es'
      |      WHEN s_de >= s_fr THEN 'de'
      |      ELSE 'fr' END AS lang_pred
      |  FROM (SELECT source, lang,
      |    len(regexp_extract_all(text, '\b(the|and|of|is|to)\b')) AS s_en,
      |    len(regexp_extract_all(text, '\b(el|la|de|que|los)\b')) AS s_es,
      |    len(regexp_extract_all(text, '\b(der|die|das|und|ist)\b')) AS s_de,
      |    len(regexp_extract_all(text, '\b(le|la|les|et|est)\b')) AS s_fr
      |    FROM documents)),
      | c AS (
      |  SELECT source, lang_label, lang_pred, CAST(count(*) AS BIGINT) AS c
      |  FROM p GROUP BY 1, 2, 3),
      | g AS (
      |  SELECT source, lang_label, CAST(sum(c) AS BIGINT) AS n_docs,
      |    CAST(sum(CASE WHEN lang_pred <> lang_label THEN c ELSE 0 END)
      |      AS BIGINT) AS n_mismatch
      |  FROM c GROUP BY 1, 2),
      | top AS (
      |  SELECT source, lang_label, lang_pred AS top_wrong_pred,
      |    row_number() OVER (PARTITION BY source, lang_label
      |      ORDER BY c DESC, lang_pred ASC) AS rn
      |  FROM c WHERE lang_pred <> lang_label)
      |SELECT g.source, g.lang_label, g.n_docs, g.n_mismatch,
      |  CAST((g.n_mismatch * 1000000) // g.n_docs AS BIGINT)
      |    AS mismatch_ppm,
      |  t.top_wrong_pred
      |FROM g LEFT JOIN (SELECT * FROM top WHERE rn = 1) t
      |  ON g.source = t.source AND g.lang_label = t.lang_label
      |ORDER BY g.source, g.lang_label""".stripMargin

  /** Content fingerprint: md5 over whitespace-normalized lowercase text —
    * the exact-dedup key and the cheap "same doc modulo spacing" check.
    * (A winnowed rolling-hash fingerprint is in Dedup.simhash territory —
    * see graft.ops.Dedup.) */
  def fingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))).as("fp"))

  val fingerprintSql: String =
    """SELECT doc_id,
      |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
      |FROM documents""".stripMargin

  /** C4-style quality filter: keep documents passing word-count,
    * stopword-ratio and mean-word-length gates; emit the gates so the
    * filter is auditable. The training-data "keep or drop" pipeline
    * stage — pure narrow projection + filter. */
  def qualityFilter(s: SparkSession, d: String): DataFrame = {
    val w = col("w")
    val nWords = size(w)
    val stopRatio = size(regexp_extract_all(col("text"), lit(stopPat), lit(0)))
      .cast("double") / nWords
    val avgLen = length(regexp_replace(col("text"), "[^a-z0-9]", ""))
      .cast("double") / nWords
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"), words(col("text")).as("w"))
      .select(col("doc_id"),
        nWords.as("n_words"),
        round(stopRatio, 4).as("stop_ratio"),
        round(avgLen, 4).as("avg_len"))
      .where(col("n_words") >= 20 &&
        col("stop_ratio").between(0.01, 0.5) &&
        col("avg_len").between(2.0, 10.0))
      .orderBy(col("doc_id"))
  }

  val qualityFilterSql: String =
    """SELECT doc_id, n_words, stop_ratio, avg_len
      |FROM (
      |  SELECT doc_id,
      |    len(regexp_extract_all(text, '[a-z0-9]+')) AS n_words,
      |    round(len(regexp_extract_all(text, '\b(the|a|of|and|in|to|is)\b'))::DOUBLE
      |          / len(regexp_extract_all(text, '[a-z0-9]+')), 4) AS stop_ratio,
      |    round(length(regexp_replace(text, '[^a-z0-9]', '', 'g'))::DOUBLE
      |          / len(regexp_extract_all(text, '[a-z0-9]+')), 4) AS avg_len
      |  FROM documents)
      |WHERE n_words >= 20 AND stop_ratio BETWEEN 0.01 AND 0.5
      |  AND avg_len BETWEEN 2.0 AND 10.0
      |ORDER BY doc_id""".stripMargin

  /** q117 — RELATIVE quality threshold per group (the FineWeb/CCNet
    * practice): instead of q24's absolute gates, keep each language's
    * docs at/above its own score distribution's p25 — robust to
    * per-domain score shifts, the reason production filters threshold
    * per group. Score = integer stopword basis points
    * (n_stop·10000 div n_words).
    *
    * The percentile is computed scale-safely: the score domain is
    * BOUNDED ([0, 10000]), so instead of `percentile_disc`'s
    * buffer-every-value aggregate the face builds a per-(lang, score)
    * HISTOGRAM (map-side combinable, ≤ 10k rows per group), takes the
    * cumulative sum over that bounded table, and picks the smallest
    * score with 4·cum ≥ n — exactly percentile_disc(0.25)'s rank rule
    * (smallest value at rank ≥ ⌈n/4⌉) in integer cross-multiplied form,
    * the q87 histogram idiom. The oracle uses DuckDB's actual
    * `percentile_disc` — a DIFFERENT formulation, so cross-engine
    * equality proves histogram-percentile ≡ sort-percentile (the
    * q93/q100 convention). Cuts table is ≤ |langs| rows → broadcast
    * join back; the corpus never sorts, never shuffles whole rows. */
  def groupQuantileFilter(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        size(words(col("text"))).as("nw"),
        size(regexp_extract_all(col("text"), lit(stopPat), lit(0))).as("nstop"))
      .where(col("nw") > 0)
      .select(col("doc_id"), col("lang"),
        expr("nstop * 10000 div nw").as("score_bp"))
    val hist = scored.groupBy(col("lang"), col("score_bp"))
      .agg(count(lit(1)).as("c"))
    val cum = Window.partitionBy(col("lang")).orderBy(col("score_bp"))
    val tot = Window.partitionBy(col("lang"))
    val cuts = hist
      .withColumn("cum", sum(col("c")).over(cum))
      .withColumn("n", sum(col("c")).over(tot))
      .where(col("cum") * 4 >= col("n"))
      .groupBy(col("lang")).agg(min(col("score_bp")).as("cut_bp"))
    scored.join(broadcast(cuts), "lang")
      .where(col("score_bp") >= col("cut_bp"))
      .select(col("doc_id"), col("lang"), col("score_bp"), col("cut_bp"))
      .orderBy(col("doc_id"))
  }

  val groupQuantileFilterSql: String =
    """WITH sc AS (
      |  SELECT doc_id, lang, (nstop * 10000) // nw AS score_bp
      |  FROM (SELECT doc_id, lang,
      |          len(regexp_extract_all(text, '[a-z0-9]+')) AS nw,
      |          len(regexp_extract_all(text, '\b(the|a|of|and|in|to|is)\b')) AS nstop
      |        FROM documents)
      |  WHERE nw > 0),
      | cuts AS (
      |  SELECT lang,
      |    percentile_disc(0.25) WITHIN GROUP (ORDER BY score_bp) AS cut_bp
      |  FROM sc GROUP BY lang)
      |SELECT s.doc_id, s.lang, s.score_bp, c.cut_bp
      |FROM sc s JOIN cuts c USING (lang)
      |WHERE s.score_bp >= c.cut_bp
      |ORDER BY s.doc_id""".stripMargin

  /** q122 — filter evaluation: EXACT ROC-AUC (Mann–Whitney U with tie
    * credit) of a quality score against a label — the "is my filter any
    * good" measurement every curation pipeline needs before it trusts a
    * threshold. Face: q117's integer stopword-bp score as the predictor,
    * `lang = 'en'` as the (weak) positive label — stopwords are English
    * function words, so the score SHOULD rank en docs high, and the AUC
    * quantifies exactly how well.
    *
    * Exact and integer: with per-score positive/negative counts np/nn
    * and cumneg = negatives strictly below the score,
    *
    *   2U = Σ_s np(s)·(2·cumneg(s) + nn(s))      (ties get ½ credit ×2)
    *   auc_ppm = 10⁶·2U div (2·n_pos·n_neg)       (all positive: div ≡ //)
    *
    * Scale: the pairwise definition is n_pos·n_neg comparisons; this
    * form needs only the per-score histogram — map-side combined, ≤
    * 10001 rows total (the score domain is bounded, the q117/q87
    * argument) — then one ordered pass over that bounded table. The
    * unpartitioned window runs over ≤ 10001 rows, never the corpus.
    * The corpus is scanned once, shuffled never. */
  /** The (score_bp, pos) evaluation frame shared by q122 (AUC — does
    * the score RANK?) and q150 (calibration — is the thresholded score
    * a PROBABILITY?): stopword-ratio score in integer basis points
    * against the lang='en' weak label. ONE definition so the two
    * audits can never evaluate different scores. */
  /** (doc_id, source, n_tokens, score_bp): the per-doc quality/size frame
    * q181's token-budget ledger selects over — same integer stopword-bp
    * score as q117/q122/q150 (ONE score definition across the quality
    * family), plus the token count the budget is denominated in. */
  private[graft] def sourceQualityFrame(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(words(col("text"))).cast("long").as("nt"),
        size(regexp_extract_all(col("text"), lit(stopPat), lit(0))).as("nstop"))
      .where(col("nt") > 0)
      .select(col("doc_id"), col("source"), col("nt"),
        expr("nstop * 10000 div nt").as("score_bp"))

  /** DuckDB CTE body for [[sourceQualityFrame]]. */
  private[graft] val sourceQualityFrameSql: String =
    """SELECT doc_id, source, nt, (nstop * 10000) // nt AS score_bp
      |  FROM (SELECT doc_id, source,
      |          CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS nt,
      |          len(regexp_extract_all(text, '\b(the|a|of|and|in|to|is)\b')) AS nstop
      |        FROM documents)
      |  WHERE nt > 0""".stripMargin

  private[graft] def stopwordScored(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("lang"),
        size(words(col("text"))).as("nw"),
        size(regexp_extract_all(col("text"), lit(stopPat), lit(0))).as("nstop"))
      .where(col("nw") > 0)
      .select(expr("nstop * 10000 div nw").as("score_bp"),
        (col("lang") === "en").cast("long").as("pos"))

  private[graft] val stopwordScoredSql: String =
    """SELECT (nstop * 10000) // nw AS score_bp,
      |   CAST(lang = 'en' AS BIGINT) AS pos
      | FROM (SELECT lang,
      |         len(regexp_extract_all(text, '[a-z0-9]+')) AS nw,
      |         len(regexp_extract_all(text, '\b(the|a|of|and|in|to|is)\b')) AS nstop
      |       FROM documents)
      | WHERE nw > 0""".stripMargin

  def aucEval(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = stopwordScored(s, d)
    val per = scored.groupBy(col("score_bp"))
      .agg(sum(col("pos")).as("np"),
        (count(lit(1)) - sum(col("pos"))).as("nn"))
    val below = Window.orderBy(col("score_bp"))
      .rowsBetween(Window.unboundedPreceding, -1)
    per.withColumn("cumneg", coalesce(sum(col("nn")).over(below), lit(0L)))
      .agg(sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"),
        sum(col("np") * (lit(2L) * col("cumneg") + col("nn"))).as("u2"))
      .select(col("n_pos"), col("n_neg"), col("u2"),
        // single-class guard (r9 advice): with no positives or no
        // negatives AUC is undefined — emit NULL explicitly rather than
        // inherit engine-specific div-by-zero behavior (non-ANSI Spark
        // NULLs, ANSI throws, DuckDB `//` differs again); the oracle
        // carries the matching CASE
        when(col("n_pos") > 0 && col("n_neg") > 0,
          expr("(1000000 * u2) div (2 * n_pos * n_neg)")).as("auc_ppm"))
  }

  val aucEvalSql: String =
    """WITH sc AS (
      |  SELECT (nstop * 10000) // nw AS score_bp, (lang = 'en') AS pos
      |  FROM (SELECT lang,
      |          len(regexp_extract_all(text, '[a-z0-9]+')) AS nw,
      |          len(regexp_extract_all(text, '\b(the|a|of|and|in|to|is)\b')) AS nstop
      |        FROM documents)
      |  WHERE nw > 0),
      | per AS (
      |  SELECT score_bp,
      |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS np,
      |    CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS nn
      |  FROM sc GROUP BY score_bp),
      | cum AS (
      |  SELECT np, nn, coalesce(sum(nn) OVER (
      |    ORDER BY score_bp ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |    0) AS cumneg
      |  FROM per)
      |SELECT CAST(sum(np) AS BIGINT) AS n_pos,
      |  CAST(sum(nn) AS BIGINT) AS n_neg,
      |  CAST(sum(np * (2 * cumneg + nn)) AS BIGINT) AS u2,
      |  CASE WHEN sum(np) > 0 AND sum(nn) > 0
      |    THEN CAST((1000000 * sum(np * (2 * cumneg + nn)))
      |         // (2 * sum(np) * sum(nn)) AS BIGINT)
      |    ELSE NULL END AS auc_ppm
      |FROM cum""".stripMargin

  /** q150 — FILTER CALIBRATION AUDIT (reliability diagram + ECE): the
    * production question AFTER q122's AUC. AUC says the quality score
    * RANKS English docs above non-English; a pipeline that then
    * THRESHOLDS the score ("keep everything scoring ≥ 0.6") is treating
    * it as a probability — this audit says whether that reading is
    * honest. The bounded score domain (basis points, 0–10000) buckets
    * into 11 fixed bins; per bin the audit emits the observed positive
    * rate vs the bin's mean predicted score (both integer ppm — the
    * q117/q122 histogram discipline: integer everywhere, so DuckDB
    * replays bit-for-bit), their gap, and the n-weighted expected
    * calibration error over all bins. A perfectly calibrated score has
    * obs ≈ conf in every bin (gap → 0); the stopword score is expected
    * to be DIRECTIONAL but miscalibrated — which is exactly the finding
    * that tells a pipeline to recalibrate before thresholding.
    *
    * Scale: ONE corpus scan into a ≤11-group hash aggregate (map-side
    * combined); the reliability table is O(bins) forever. The ece_ppm
    * total rides the usual bounded crossJoin(broadcast) totals
    * pattern. Overflow note: sum(n·gap) stays under 2^63 until
    * n·10⁶ ≈ 9·10¹⁸ — ~10¹² docs; past that, rescale gap to per-mille. */
  def calibrationAudit(s: SparkSession, d: String): DataFrame =
    calibrationOn(stopwordScored(s, d))

  /** The audit over any (score_bp ∈ [0,10000], pos ∈ {0,1}) frame —
    * fixture-testable separately from the corpus face. */
  private[graft] def calibrationOn(scored: DataFrame): DataFrame = {
    val per = scored
      .select(expr("score_bp div 1000").as("bin"), col("score_bp"), col("pos"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"),
        sum(col("score_bp")).as("sbp"))
      .select(col("bin"), col("n"), col("n_pos"),
        expr("(1000000 * n_pos) div n").as("obs_ppm"),
        // mean predicted score in ppm (bp → ppm is ×100): ECE's
        // per-bin confidence, sharper than the bin midpoint
        expr("(100 * sbp) div n").as("conf_ppm"))
      .withColumn("gap_ppm", abs(col("obs_ppm") - col("conf_ppm")))
    val tot = per.agg(expr("sum(n * gap_ppm) div sum(n)").as("ece_ppm"))
    per.crossJoin(broadcast(tot))
      .select(col("bin"), col("n"), col("n_pos"), col("obs_ppm"),
        col("conf_ppm"), col("gap_ppm"), col("ece_ppm"))
      .orderBy(col("bin"))
  }

  val calibrationSql: String =
    s"""WITH sc AS ($stopwordScoredSql),
      | per AS (
      |  SELECT score_bp // 1000 AS bin,
      |    CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(pos) AS BIGINT) AS n_pos,
      |    CAST(sum(score_bp) AS BIGINT) AS sbp
      |  FROM sc GROUP BY 1),
      | b AS (
      |  SELECT bin, n, n_pos,
      |    CAST((1000000 * n_pos) // n AS BIGINT) AS obs_ppm,
      |    CAST((100 * sbp) // n AS BIGINT) AS conf_ppm
      |  FROM per),
      | g AS (
      |  SELECT bin, n, n_pos, obs_ppm, conf_ppm,
      |    CAST(abs(obs_ppm - conf_ppm) AS BIGINT) AS gap_ppm
      |  FROM b),
      | tot AS (
      |  SELECT CAST(sum(n * gap_ppm) // sum(n) AS BIGINT) AS ece_ppm FROM g)
      |SELECT g.bin AS bin, g.n, g.n_pos, g.obs_ppm, g.conf_ppm, g.gap_ppm,
      |  tot.ece_ppm
      |FROM g, tot
      |ORDER BY bin""".stripMargin

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken): hash every
    * w-word shingle (rolling window over the words array), then keep the
    * MINIMUM hash of every window of `winnow` consecutive shingle hashes —
    * guarantees any shared run of ≥ w+winnow-1 words yields a shared
    * fingerprint. All per-row HOF math (narrow, no shuffle); candidates
    * then meet in an equi-join on fingerprint like every LSH path here. */
  def winnowFingerprints(s: SparkSession, d: String, w: Int = 4, winnow: Int = 5,
      portable: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // fully codegen'd rolling pipeline over ONE shuffle+sort per doc:
    // posexplode words → shingle hash via lead() → sliding-frame min →
    // full-window filter → set per doc. (Array-HOF formulations were
    // measured quadratic — Catalyst collapses projections and re-evals
    // the hash array per window; and interpreted lambdas lose to
    // codegen'd window exec by an order of magnitude here.)
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val slide = byPos.rowsBetween(Window.currentRow, winnow - 1)
    val whole = Window.partitionBy(col("doc_id"))
    val shingleWords =
      (0 until w).map(k => if (k == 0) col("word") else lead(col("word"), k).over(byPos))
    // portable = md5-derived 60-bit hash (identical expression exists in
    // DuckDB → q26 becomes oracle-checkable; the q33/q35 idiom). The
    // default stays xxhash64 (native, codegen'd) for engine-internal use.
    // NOTE the hash choice changes WHICH shingle wins each winnow window,
    // so the two variants select different (equally valid) fingerprints.
    val shingleHash =
      if (portable)
        conv(substring(md5(concat_ws(" ", shingleWords: _*)), 1, 15), 16, 10).cast("long")
      else xxhash64(shingleWords: _*)
    Tables.documents(s, d)
      .select(col("doc_id"), posexplode(words(col("text"))).as(Seq("pos", "word")))
      // hv is only a valid w-shingle hash where the last lead exists
      // (tail rows hash fewer words — drop them before the sliding min)
      .select(col("doc_id"), col("pos"), shingleHash.as("hv"),
        lead(col("word"), w - 1).over(byPos).as("w_last"))
      .where(col("w_last").isNotNull)
      .withColumn("fp", min(col("hv")).over(slide))
      .withColumn("nh", count(lit(1)).over(whole))
      // full winnow windows only (pos is 0-based and, after the tail
      // filter, equals the row index); short docs keep their first
      // (shrunken) frame so every doc with ≥ w words yields ≥ 1 fp
      .where(col("pos") <= greatest(col("nh") - winnow, lit(0)))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("fp")).as("fps"))
  }

  /** Near-dup candidate pairs via shared winnow fingerprints: explode →
    * drop ubiquitous fingerprints → equi-join on fingerprint → count
    * shared per pair. The rolling-hash face of the dedup family (MinHash
    * estimates Jaccard; winnowing finds shared RUNS).
    *
    * The document-frequency cap (`maxDf`) is load-bearing at scale:
    * window-min selection concentrates globally-small hashes into many
    * documents (especially under small vocabularies), and a fingerprint
    * shared by f docs contributes f² join pairs. Capping f bounds the
    * join at Σ f² ≤ maxDf · |fp-postings| — linear in corpus size —
    * while near-identical docs still meet through their RARE shared
    * fingerprints (a fingerprint carried by every doc carries no
    * signal anyway). Deterministic → rows-only + ScalaTest. */
  def winnowPairs(s: SparkSession, d: String, maxDf: Int = 100,
      portable: Boolean = false): DataFrame = {
    // persisted once per (session, dir, hash): the postings table feeds
    // FIVE subtrees below (df filter, both self-join sides, both
    // per-doc counts) and each would otherwise recompute the whole
    // scan → sort → 3-window fingerprint pipeline (verified in the
    // pre-fix PLANS.md dump — five copies of the window stack)
    val fpAll = SharedPlans.cached(s, s"winnowPostings|$d|$portable")(
      winnowFingerprints(s, d, portable = portable)
        .select(col("doc_id"), explode(col("fps")).as("fp"))
        .distinct())
    val rare = fpAll.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf).select(col("fp"))
    val fp = fpAll.join(rare, "fp")
    val counts = fp.groupBy(col("doc_id")).agg(count(lit(1)).as("nfp"))
    fp.as("a").join(fp.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("n_shared"))
      .join(counts.select(col("doc_id").as("d1"), col("nfp").as("nfp1")), "d1")
      .join(counts.select(col("doc_id").as("d2"), col("nfp").as("nfp2")), "d2")
      .withColumn("overlap",
        round(col("n_shared").cast("double") / least(col("nfp1"), col("nfp2")), 4))
      .where(col("overlap") >= 0.5)
      .select(col("d1"), col("d2"), col("n_shared"), col("overlap"))
      .orderBy(col("d1"), col("d2"))
  }

  /** Oracle for the portable-variant [[winnowPairs]]: the identical
    * rolling pipeline in DuckDB window SQL — md5-derived shingle hash via
    * lead(), sliding-frame min (ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING),
    * full-window filter (DuckDB positions are 1-based: `pos <=
    * greatest(nh-4, 1)` ≡ Spark's 0-based `pos <= greatest(nh-5, 0)`),
    * df-capped fingerprint join, overlap ≥ 0.5. */
  val winnowPairsSql: String =
    """WITH wordpos AS (
      |  SELECT doc_id,
      |    unnest(regexp_extract_all(text, '[a-z0-9]+')) AS word,
      |    generate_subscripts(regexp_extract_all(text, '[a-z0-9]+'), 1) AS pos
      |  FROM documents),
      | sh AS (
      |  SELECT doc_id, pos,
      |    CAST('0x' || substr(md5(
      |      word || ' ' || lead(word,1) OVER w || ' ' ||
      |      lead(word,2) OVER w || ' ' || lead(word,3) OVER w), 1, 15) AS BIGINT) AS hv,
      |    lead(word,3) OVER w AS w_last
      |  FROM wordpos WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      | win AS (
      |  SELECT doc_id, pos,
      |    min(hv) OVER (PARTITION BY doc_id ORDER BY pos
      |                  ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS fp,
      |    count(*) OVER (PARTITION BY doc_id) AS nh
      |  FROM sh WHERE w_last IS NOT NULL),
      | fps AS (
      |  SELECT DISTINCT doc_id, fp FROM win WHERE pos <= greatest(nh - 4, 1)),
      | rare AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 100),
      | s AS (SELECT fps.* FROM fps JOIN rare USING (fp)),
      | n AS (SELECT doc_id, count(*) AS nfp FROM s GROUP BY doc_id),
      | pairs AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_shared
      |  FROM s a JOIN s b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT d1, d2, n_shared,
      |  round(n_shared * 1.0 / least(n1.nfp, n2.nfp), 4) AS overlap
      |FROM pairs
      |JOIN n n1 ON d1 = n1.doc_id
      |JOIN n n2 ON d2 = n2.doc_id
      |WHERE round(n_shared * 1.0 / least(n1.nfp, n2.nfp), 4) >= 0.5
      |ORDER BY d1, d2""".stripMargin

  /** Corpus-level word frequency top-k with deterministic tiebreak —
    * explode + count + TakeOrdered. */
  def wordTopK(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(words(col("text"))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word").asc)
      .limit(20)

  val wordTopKSql: String =
    """SELECT word, count(*) AS n
      |FROM (SELECT unnest(regexp_extract_all(text, '[a-z0-9]+')) AS word
      |      FROM documents)
      |GROUP BY word ORDER BY n DESC, word ASC LIMIT 20""".stripMargin

  /** Per-document TF-IDF top-k terms (q27): tf·ln(N/df), ranked by the
    * ROUNDED score with a word tiebreak (FP noise below the rounding
    * precision cannot reorder the oracle compare — house pattern from
    * [[Similarity.cosineTopK]]).
    *
    * Scale: terms is one explode + (doc, word) hash-agg; df one
    * word-keyed agg over it (map-side partial); N broadcast as a 1-row
    * frame. The rank window partitions by doc_id — no global sort. */
  def tfIdfTopK(s: SparkSession, d: String, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    val terms = docs.select(col("doc_id"), explode(words(col("text"))).as("word"))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
    val dfreq = terms.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = terms.join(dfreq, "word").crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("word").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("word"), col("tf"), col("df"),
        col("tfidf"), col("rank"))
      .orderBy(col("doc_id"), col("rank"))
  }

  val tfIdfTopKSql: String =
    """WITH terms AS (
      |  SELECT doc_id, word, count(*) AS tf FROM (
      |    SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS word
      |    FROM documents)
      |  GROUP BY doc_id, word),
      | dfreq AS (SELECT word, count(*) AS df FROM terms GROUP BY word),
      | n AS (SELECT count(*) AS n_docs FROM documents),
      | scored AS (
      |  SELECT t.doc_id, t.word, t.tf, f.df,
      |    round(t.tf * ln(n.n_docs::DOUBLE / f.df), 4) AS tfidf
      |  FROM terms t JOIN dfreq f USING (word) CROSS JOIN n),
      | ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id
      |                               ORDER BY tfidf DESC, word ASC) AS rank
      |  FROM scored)
      |SELECT doc_id, word, tf, df, tfidf, rank FROM ranked WHERE rank <= 5
      |ORDER BY doc_id, rank""".stripMargin

  /** Query terms for the BM25 gate face — mid-to-high-df words of the
    * synthetic vocabulary; the ORDER is the per-doc summation order (see
    * below). */
  val bm25Terms: Seq[String] = Seq("data", "hash", "scan")

  /** BM25 document scoring for a fixed term set (q28): Robertson idf
    * ln(1 + (N−df+0.5)/(df+0.5)), k1 = 1.2, b = 0.75, dl = word count.
    * Top-20 via orderBy+limit — TakeOrderedAndProject, distributed, no
    * single-partition window.
    *
    * Determinism note: the per-doc score sums one double per query term,
    * and floating addition is order-dependent — a `sum()` would add in
    * engine-specific order. The per-term weights are therefore pivoted to
    * columns and added in the FIXED [[bm25Terms]] order on both sides, so
    * the doubles are bit-identical before rounding. */
  def bm25(s: SparkSession, d: String, k: Int = 20): DataFrame = {
    val docs = Tables.documents(s, d)
    val dl = docs.select(col("doc_id"), size(words(col("text"))).as("dl"))
    val terms = docs.select(col("doc_id"), explode(words(col("text"))).as("word"))
      .where(col("word").isin(bm25Terms: _*))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
    val dfreq = terms.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val weighted = terms.join(dfreq, "word").join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("wt",
        col("idf") * (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
    // fixed-order summation: one max(case) column per term, added in order
    val aggs = bm25Terms.map(t =>
      max(when(col("word") === t, col("wt"))).as(s"w_$t"))
    val perDoc = weighted.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
    val score = bm25Terms.map(t => coalesce(col(s"w_$t"), lit(0.0)))
      .reduceLeft(_ + _)
    perDoc.select(col("doc_id"), round(score, 4).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id").asc)
      .limit(k)
  }

  val bm25Sql: String =
    """WITH dl AS (
      |  SELECT doc_id, len(regexp_extract_all(text, '[a-z0-9]+')) AS dl
      |  FROM documents),
      | terms AS (
      |  SELECT doc_id, word, count(*) AS tf FROM (
      |    SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS word
      |    FROM documents)
      |  WHERE word IN ('data', 'hash', 'scan')
      |  GROUP BY doc_id, word),
      | dfreq AS (SELECT word, count(*) AS df FROM terms GROUP BY word),
      | stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
      | weighted AS (
      |  SELECT t.doc_id, t.word,
      |    ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
      |      * (t.tf * 2.2) / (t.tf + 1.2 * (0.25 + 0.75 * d.dl / s.avgdl)) AS wt
      |  FROM terms t JOIN dfreq f USING (word) JOIN dl d USING (doc_id)
      |  CROSS JOIN stats s),
      | perdoc AS (
      |  SELECT doc_id,
      |    max(CASE WHEN word = 'data' THEN wt END) AS w_data,
      |    max(CASE WHEN word = 'hash' THEN wt END) AS w_hash,
      |    max(CASE WHEN word = 'scan' THEN wt END) AS w_scan
      |  FROM weighted GROUP BY doc_id)
      |SELECT doc_id,
      |  round(coalesce(w_data, 0.0) + coalesce(w_hash, 0.0) + coalesce(w_scan, 0.0), 4) AS bm25
      |FROM perdoc
      |ORDER BY bm25 DESC, doc_id ASC LIMIT 20""".stripMargin

  /** Portable fixed-bin histogram quantiles (q87): per-source token-length
    * distribution as a 32-bin histogram (bin width 16, last bin open),
    * with P50/P90/P99 read off the cumulative counts — the engine-portable
    * answer to "what's the length distribution of each corpus slice".
    *
    * Exact-percentile (`percentile_disc`) shuffles and sorts every row per
    * group; a t-digest is compact but engine-specific — its merge order
    * changes the estimate, so no oracle could check it. Fixed bins are the
    * scale-correct middle ground: ONE map-side-combined hash-agg over the
    * corpus (≤32·|sources| output rows), cumulative windows only on that
    * bounded aggregate, and every output an exact INTEGER (bin lower
    * bound, in tokens) any engine reproduces bit-for-bit. Resolution is
    * the bin width; q73's percentile_disc covers the exact-quantile need
    * at group scales where the sort is affordable. */
  def lengthHistogram(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val binned = Tables.documents(s, d)
      .select(col("source"),
        // `div` not `/`: Column./ on longs is DOUBLE division
        least(expr("size(regexp_extract_all(text, '[a-z0-9]+', 0)) div 16")
          .cast("long"), lit(31L)).as("bin"))
      .groupBy(col("source"), col("bin")).agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy(col("source")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("source"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    binned
      .withColumn("cc", sum(col("c")).over(wCum))
      .withColumn("n_docs", sum(col("c")).over(wAll))
      .groupBy(col("source"))
      .agg(max(col("n_docs")).as("n_docs"),
        (min(when(col("cc") * 2 >= col("n_docs"), col("bin"))) * 16).as("p50_tok"),
        (min(when(col("cc") * 10 >= col("n_docs") * 9, col("bin"))) * 16).as("p90_tok"),
        (min(when(col("cc") * 100 >= col("n_docs") * 99, col("bin"))) * 16).as("p99_tok"))
      .orderBy(col("source"))
  }

  val lengthHistogramSql: String =
    """WITH t AS (
      |  SELECT source,
      |    CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS n
      |  FROM documents),
      | binned AS (
      |  SELECT source, least(n // 16, 31) AS bin, count(*) AS c
      |  FROM t GROUP BY 1, 2),
      | cum AS (
      |  SELECT source, bin, c,
      |    sum(c) OVER (PARTITION BY source ORDER BY bin
      |                 ROWS UNBOUNDED PRECEDING) AS cc,
      |    sum(c) OVER (PARTITION BY source) AS n_docs
      |  FROM binned)
      |SELECT source, CAST(max(n_docs) AS BIGINT) AS n_docs,
      |  CAST(min(CASE WHEN cc * 2 >= n_docs THEN bin END) * 16 AS BIGINT) AS p50_tok,
      |  CAST(min(CASE WHEN cc * 10 >= n_docs * 9 THEN bin END) * 16 AS BIGINT) AS p90_tok,
      |  CAST(min(CASE WHEN cc * 100 >= n_docs * 99 THEN bin END) * 16 AS BIGINT) AS p99_tok
      |FROM cum GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // q109: BPE tokenizer training (pair merges on the word-frequency dict)
  // ---------------------------------------------------------------------

  private val BpeIters = 2
  private val BpeTopK = 20

  /** One BPE iteration's pair statistics: explode each vocab word's
    * space-joined symbol sequence into adjacent pairs, weighted by the
    * word's corpus frequency, and sum. */
  private def bpePairStats(vocab: DataFrame): DataFrame = {
    val syms = split(col("seq"), " ")
    val pairs = zip_with(
      slice(syms, lit(1), size(syms) - 1),
      slice(syms, lit(2), size(syms) - 1),
      (a, b) => concat(a, lit(" "), b))
    vocab.select(col("n"), explode(pairs).as("pair"))
      .groupBy(col("pair")).agg(sum(col("n")).as("cnt"))
  }

  /** Apply ONE merge (the 1-row `best` frame: p1, p2) to every vocab
    * word's symbol sequence with BPE's exact greedy left-to-right
    * non-overlap rule: within each maximal run of consecutive matching
    * positions, merge at even offsets only ("o o o" under merge (o,o) →
    * "oo o", never "o oo"). A plain string replace gets runs wrong when
    * the pair overlaps itself, so this is the q105 islands idiom on the
    * MATCHED positions instead: island = consecutive-i run, merge iff
    * (i − island_start) is even; position i+1 of a merged i drops; the
    * sequence rebuilds with an ordered string_agg. */
  private def bpeApplyMerge(vocab: DataFrame, best: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byI = Window.partitionBy(col("word")).orderBy(col("i"))
    val e = vocab
      .select(col("word"), col("n"), posexplode(split(col("seq"), " ")).as(Seq("i", "sym")))
      .crossJoin(broadcast(best.select(col("p1"), col("p2"))))
      .withColumn("mtch", col("sym") === col("p1") && lead(col("sym"), 1).over(byI) === col("p2"))
    val matched = e.where(col("mtch"))
      .withColumn("prev", lag(col("i"), 1).over(byI))
      .withColumn("cut", when(col("prev").isNull || col("i") - col("prev") > 1, 1L).otherwise(0L))
      .withColumn("isl", sum(col("cut")).over(
        byI.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("start", min(col("i")).over(Window.partitionBy(col("word"), col("isl"))))
      .where((col("i") - col("start")) % 2 === 0)
      .select(col("word"), col("i").as("mi"))
    e.join(matched.select(col("word"), col("mi").as("i"), lit(true).as("mergeHere")),
        Seq("word", "i"), "left")
      .join(matched.select(col("word"), (col("mi") + 1).as("i"), lit(true).as("dropped")),
        Seq("word", "i"), "left")
      .where(col("dropped").isNull)
      .select(col("word"), col("n"), col("i"),
        when(col("mergeHere"), concat(col("p1"), col("p2"))).otherwise(col("sym")).as("sym"))
      .groupBy(col("word"), col("n"))
      .agg(concat_ws(" ", transform(array_sort(collect_list(struct(col("i"), col("sym")))),
        x => x.getField("sym"))).as("seq"))
  }

  /** q109 — BPE tokenizer training (Sennrich et al. 2016), the step
    * every LLM data pipeline runs before anything tokenizes: learn the
    * first `BpeIters` pair merges from the corpus and report the
    * resulting symbol inventory. Training operates on the WORD-FREQUENCY
    * DICTIONARY, not the corpus: one scan builds (word, count), and
    * every subsequent iteration touches only the vocab — bounded by
    * distinct words no matter the corpus size, the reason classic BPE
    * training scales to any volume. Each iteration: weighted adjacent-
    * pair counts (one narrow agg over the vocab), argmax with (count
    * desc, pair asc) tie-break, then the exact greedy left-to-right
    * merge via the islands idiom ([[bpeApplyMerge]] — run parity, not
    * string replace, which mis-merges self-overlapping pairs). The gate
    * emits the learned merges and the top-`BpeTopK` corpus-weighted
    * symbols after training; DuckDB replays both unrolled iterations
    * end-to-end, so a wrong pair count, tie-break, or merge application
    * anywhere diverges the hash. */
  def bpeTrain(s: SparkSession, d: String): DataFrame = {
    // the TRAINING face: always retrains (its cost IS training) and
    // REFRESHES the persisted model artifact that the apply faces
    // (q114/q140) serve off — the q126/q127/q137 daily-run convention
    bpeWriteModel(s, d)
    bpeReportFrom(s.read.parquet(s"${bpeModelDir(d)}/merges"),
      s.read.parquet(s"${bpeModelDir(d)}/vocab"))
  }

  def bpeTrainFrom(docs: DataFrame): DataFrame = {
    val (mergeSteps, vocab) = bpeSteps(docs)
    bpeReportFrom(bpeMergesFrame(mergeSteps), vocab)
  }

  /** The q109 report off a (merges, vocab) model pair. */
  private def bpeReportFrom(merges: DataFrame, vocab: DataFrame): DataFrame = {
    val mergeRows = merges.select(lit("merge").as("kind"), col("ord"),
      concat(col("p1"), lit(" "), col("p2")).as("item"), col("cnt").as("n"))
    val symbols = vocab
      .select(col("n"), explode(split(col("seq"), " ")).as("sym"))
      .groupBy(col("sym")).agg(sum(col("n")).as("sn"))
      .orderBy(col("sn").desc, col("sym").asc).limit(BpeTopK)
      .select(lit("symbol").as("kind"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("sn").desc, col("sym").asc)).as("ord"),
        col("sym").as("item"), col("sn").as("n"))
    mergeRows.unionByName(symbols).orderBy(col("kind"), col("ord"))
  }

  private def bpeMergesFrame(mergeSteps: Seq[DataFrame]): DataFrame =
    mergeSteps.zipWithIndex.map { case (best, i) =>
      best.select(lit(i + 1).as("ord"), col("p1"), col("p2"), col("cnt"))
    }.reduce(_ unionByName _)

  /** Persisted-model dir for the q109/q114/q140 tokenizer family, keyed
    * by a CONTENT FINGERPRINT of the documents source (path + per-file
    * length/mtime, [[graft.Tables.sourceFingerprint]]) — not the
    * sanitized dir name, which (r11 advice) could both collide two
    * distinct dirs onto one artifact and keep serving a stale model
    * after the harness regenerates testdata at the same path. Verify
    * wipes `target/tmp` at startup, so a gate run trains exactly once
    * and every later face of the same run serves off the artifact;
    * Bench/Profile never wipe, and with the fingerprint key they don't
    * need to — regenerated data simply keys a fresh artifact. */
  private[graft] def bpeModelDir(d: String): java.io.File =
    new java.io.File(
      s"target/tmp/bpe_model_${graft.Tables.sourceFingerprint(d, "documents")}")

  /** Train on `d`'s documents and persist the model: `merges` (ord, p1,
    * p2, cnt) + `vocab` (word, n, seq — the encoder). `_OK` commits the
    * write (a crashed half-write never serves). */
  private def bpeWriteModel(s: SparkSession, d: String): Unit = synchronized {
    val dir = bpeModelDir(d)
    scala.reflect.io.Path(dir).deleteRecursively()
    val (mergeSteps, vocab) = bpeSteps(Tables.documents(s, d))
    bpeMergesFrame(mergeSteps).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/merges")
    vocab.write.mode("overwrite").parquet(s"$dir/vocab")
    new java.io.File(dir, "_OK").createNewFile()
  }

  /** The trained encoder (word → merged seq) for `d`: served off the
    * persisted artifact when present, trained (and persisted) on demand
    * when not — so q114/q140 never RE-train a model q109 already built
    * this run (r10 verdict item 7: q140 re-trained per face, 3.2 s). */
  private[graft] def bpeModelVocab(s: SparkSession, d: String): DataFrame = {
    val dir = bpeModelDir(d)
    if (!new java.io.File(dir, "_OK").exists()) bpeWriteModel(s, d)
    s.read.parquet(s"$dir/vocab")
  }

  /** The shared BPE training loop: builds the word-frequency vocab, runs
    * [[BpeIters]] merge iterations, and returns (per-step best-merge
    * 1-row frames (p1, p2, cnt), final vocab (word, n, seq)). Both the
    * training report (q109) and the encoder (q114) consume this. */
  private def bpeSteps(docs: DataFrame): (Seq[DataFrame], DataFrame) = {
    val vocab0 = docs
      .select(explode(words(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .withColumn("seq", concat_ws(" ", split(col("word"), "(?!$)")))
      .localCheckpoint(true) // vocab is small; truncate the corpus scan
    var vocab = vocab0
    val merges = Seq.newBuilder[DataFrame]
    val spark = docs.sparkSession
    // '#' can never appear in a [a-z0-9]+ symbol or any merge of them, so
    // the sentinel matches nothing: when NO pairs remain (every word
    // fully merged) the iteration is a no-op instead of the empty `best`
    // annihilating the vocab through the cross join (review finding)
    val sentinel = spark.range(1)
      .select(lit("# #").as("pair"), lit(-1L).as("cnt"))
    for (_ <- 1 to BpeIters) {
      val best = bpePairStats(vocab).unionByName(sentinel)
        .orderBy(col("cnt").desc, col("pair").asc).limit(1)
        .select(split(col("pair"), " ").getItem(0).as("p1"),
          split(col("pair"), " ").getItem(1).as("p2"), col("cnt"))
        .localCheckpoint(true) // 1 row, feeds two consumers
      merges += best
      vocab = bpeApplyMerge(vocab, best).localCheckpoint(true)
    }
    (merges.result(), vocab)
  }

  /** q114 — BPE tokenizer APPLICATION (encode + count): tokenize every
    * document with the q109-trained tokenizer and report per-doc word
    * and BPE-token counts — the "how many tokens is my corpus" question
    * every LLM data pipeline answers before budgeting a training run.
    *
    * The scale insight (same as training): a word's encoding depends
    * only on the word, so the CORPUS is never re-segmented — the final
    * trained vocab (word → merged seq) IS the encoder, and per-doc
    * token counts are one (doc, word)-grouped agg joined to that
    * vocab-sized table: n_tokens(doc) = Σ_w cnt(doc, w)·|seq(w)|. At
    * 100 TB the join's build side stays |vocab| and the corpus-side
    * work is the same hash-agg q20 does. Every word of every doc is in
    * the vocab by construction (trained on the same corpus), so the
    * inner join loses nothing — wordless docs zero-fill via the final
    * left join. */
  def bpeEncode(s: SparkSession, d: String): DataFrame =
    bpeEncodeWith(Tables.documents(s, d), bpeModelVocab(s, d))

  private[graft] def bpeEncodeFrom(docs: DataFrame): DataFrame =
    bpeEncodeWith(docs, bpeSteps(docs)._2)

  /** Encode off a given trained vocab (the artifact path or a fresh
    * train — the apply join is identical either way). */
  private def bpeEncodeWith(docs: DataFrame, vocab: DataFrame): DataFrame = {
    val enc = vocab.select(col("word"),
      size(split(col("seq"), " ")).cast("long").as("ntok"))
    val perDoc = docs
      .select(col("doc_id"), explode(words(col("text"))).as("word"))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("cnt"))
      .join(enc, "word")
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_words"),
        sum(col("cnt") * col("ntok")).as("n_tokens"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Oracle for q114: replays both training iterations (the q109 CTEs
    * verbatim) then the encode join — a wrong merge ANYWHERE in training
    * shifts some word's symbol count and diverges per-doc totals. */
  /** The q114 pipeline as DuckDB CTEs (training + encode, ending in
    * `per` (doc_id, n_words, n_tokens)) — ONE text shared by the q114
    * and q140 oracles so both faces provably replay the same model. */
  private lazy val bpeEncodeCtes: String =
    s"""v0 AS (
       |  SELECT word, CAST(count(*) AS BIGINT) AS n,
       |    array_to_string(string_split_regex(word, ''), ' ') AS seq
       |  FROM (SELECT unnest(regexp_extract_all(text, '$wordPat')) AS word
       |        FROM documents)
       |  GROUP BY word),
       | ${bpeIterSql(1, "v0", "v1")},
       | ${bpeIterSql(2, "v1", "v2")},
       | enc AS (SELECT word, len(string_split(seq, ' ')) AS ntok FROM v2),
       | wc AS (
       |  SELECT doc_id, word, count(*) AS cnt FROM (
       |    SELECT doc_id, unnest(regexp_extract_all(text, '$wordPat')) AS word
       |    FROM documents)
       |  GROUP BY doc_id, word),
       | per AS (
       |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_words,
       |    CAST(sum(cnt * ntok) AS BIGINT) AS n_tokens
       |  FROM wc JOIN enc USING (word) GROUP BY doc_id)""".stripMargin

  val bpeEncodeSql: String =
    s"""WITH $bpeEncodeCtes
       |SELECT d.doc_id,
       |  coalesce(per.n_words, 0) AS n_words,
       |  coalesce(per.n_tokens, 0) AS n_tokens
       |FROM documents d LEFT JOIN per USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** q140 — TOKENIZER EVALUATION (fertility / compression by language):
    * the measurement run before committing to a tokenizer — how many
    * tokens per word (fertility) and characters per token (compression)
    * does the trained vocabulary achieve on each language's slice? A
    * tokenizer trained on a mixed corpus systematically over-fragments
    * minority scripts; this is the table that makes that visible.
    * Rides q114's trained-then-applied pipeline (same model, same
    * encode join — the oracle shares the CTE text so the two faces
    * provably replay the same model) and rolls per-doc token counts up
    * to a \|langs\|-bounded report with integer-ppm ratios (`div`,
    * positive operands — engine-identical floor).
    *
    * Scale: everything corpus-sized is q114's cost (vocab-bounded
    * model, two corpus scans); the roll-up adds one |langs| aggregate
    * over doc-level rows. */
  def tokenizerStats(s: SparkSession, d: String): DataFrame = {
    val per = bpeEncodeWith(Tables.documents(s, d), bpeModelVocab(s, d))
    Tables.documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
      .join(per, "doc_id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_tokens"),
        col("n_chars"),
        when(col("n_words") > 0,
          expr("(1000000 * n_tokens) div n_words")).as("fertility_ppm"),
        when(col("n_tokens") > 0,
          expr("(1000000 * n_chars) div n_tokens")).as("chars_per_token_ppm"))
      .orderBy(col("lang"))
  }

  /** Oracle for [[tokenizerStats]]: q114's shared CTEs + the per-lang
    * roll-up. */
  val tokenizerStatsSql: String =
    s"""WITH $bpeEncodeCtes,
       | j AS (
       |  SELECT d.lang, d.n_chars,
       |    coalesce(per.n_words, 0) AS nw, coalesce(per.n_tokens, 0) AS nt
       |  FROM documents d LEFT JOIN per USING (doc_id))
       |SELECT lang, count(*) AS n_docs,
       |  CAST(sum(nw) AS BIGINT) AS n_words,
       |  CAST(sum(nt) AS BIGINT) AS n_tokens,
       |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
       |  CASE WHEN sum(nw) > 0
       |    THEN CAST((1000000 * sum(nt)) // sum(nw) AS BIGINT) END
       |    AS fertility_ppm,
       |  CASE WHEN sum(nt) > 0
       |    THEN CAST((1000000 * sum(n_chars)) // sum(nt) AS BIGINT) END
       |    AS chars_per_token_ppm
       |FROM j GROUP BY lang ORDER BY lang""".stripMargin

  /** One unrolled BPE iteration as DuckDB CTEs: from vocab `$in` (word,
    * n, seq) derive `best$k` (p1, p2, cnt) and the merged vocab `$out`. */
  private def bpeIterSql(k: Int, in: String, out: String): String =
    s"""px$k AS (
       |  SELECT n, unnest(range(1, len(syms))) AS i, syms
       |  FROM (SELECT n, string_split(seq, ' ') AS syms FROM $in)),
       | ps$k AS (
       |  SELECT syms[i] || ' ' || syms[i+1] AS pair, CAST(sum(n) AS BIGINT) AS cnt
       |  FROM px$k GROUP BY 1),
       | best$k AS (
       |  SELECT string_split(pair, ' ')[1] AS p1, string_split(pair, ' ')[2] AS p2, cnt
       |  FROM (SELECT pair, cnt FROM ps$k
       |        UNION ALL SELECT '# #', CAST(-1 AS BIGINT))
       |  ORDER BY cnt DESC, pair ASC LIMIT 1),
       | ex$k AS (
       |  SELECT word, n, unnest(range(1, len(syms)+1)) AS i, syms
       |  FROM (SELECT word, n, string_split(seq, ' ') AS syms FROM $in)),
       | e$k AS (
       |  SELECT word, n, i, syms[i] AS sym,
       |    (syms[i] = b.p1 AND
       |     lead(syms[i]) OVER (PARTITION BY word ORDER BY i) = b.p2) AS mtch
       |  FROM ex$k CROSS JOIN best$k b),
       | m$k AS (
       |  SELECT word, i,
       |    CASE WHEN lag(i) OVER w IS NULL OR i - lag(i) OVER w > 1 THEN 1 ELSE 0 END AS cut
       |  FROM e$k WHERE mtch WINDOW w AS (PARTITION BY word ORDER BY i)),
       | m2$k AS (
       |  SELECT word, i,
       |    sum(cut) OVER (PARTITION BY word ORDER BY i ROWS UNBOUNDED PRECEDING) AS isl
       |  FROM m$k),
       | mk$k AS (
       |  SELECT word, i FROM (
       |    SELECT word, i, i - min(i) OVER (PARTITION BY word, isl) AS off FROM m2$k)
       |  WHERE off % 2 = 0),
       | $out AS (
       |  SELECT e.word, e.n,
       |    string_agg(CASE WHEN mk.i IS NOT NULL THEN b.p1 || b.p2 ELSE e.sym END,
       |               ' ' ORDER BY e.i) AS seq
       |  FROM e$k e
       |  CROSS JOIN best$k b
       |  LEFT JOIN mk$k mk ON mk.word = e.word AND mk.i = e.i
       |  LEFT JOIN mk$k dr ON dr.word = e.word AND dr.i + 1 = e.i
       |  WHERE dr.i IS NULL
       |  GROUP BY e.word, e.n)""".stripMargin

  val bpeTrainSql: String =
    s"""WITH v0 AS (
       |  SELECT word, CAST(count(*) AS BIGINT) AS n,
       |    array_to_string(string_split_regex(word, ''), ' ') AS seq
       |  FROM (SELECT unnest(regexp_extract_all(text, '[a-z0-9]+')) AS word
       |        FROM documents)
       |  GROUP BY word),
       | ${bpeIterSql(1, "v0", "v1")},
       | ${bpeIterSql(2, "v1", "v2")},
       | syms AS (
       |  SELECT sym, CAST(sum(n) AS BIGINT) AS sn FROM (
       |    SELECT n, unnest(string_split(seq, ' ')) AS sym FROM v2)
       |  GROUP BY sym),
       | topk AS (
       |  SELECT 'symbol' AS kind,
       |    CAST(row_number() OVER (ORDER BY sn DESC, sym ASC) AS INT) AS ord,
       |    sym AS item, sn AS n
       |  FROM syms ORDER BY sn DESC, sym ASC LIMIT $BpeTopK)
       |SELECT kind, ord, item, n FROM (
       |  SELECT 'merge' AS kind, 1 AS ord, p1 || ' ' || p2 AS item, cnt AS n FROM best1
       |  UNION ALL
       |  SELECT 'merge', 2, p1 || ' ' || p2, cnt FROM best2
       |  UNION ALL
       |  SELECT * FROM topk)
       |ORDER BY kind, ord""".stripMargin

  /** Backoff penalty in bits (≈ ×1/4 mass for the unigram path) and the
    * extra OOV bits; 1-bit log resolution makes both pure integers. */
  private val LmBackoffBits = 2L
  private val LmOovExtraBits = 4L

  /** floor(log2(x)) for x ≥ 1, integer-exact in BOTH engines: the binary
    * rendering's length minus one (Spark `bin`, DuckDB `bin` — verified
    * identical for BIGINT). This is the 1-bit-quantized logarithm that
    * keeps an LM score inside the suite's exact-integer/hash-gate
    * convention — no ln() whose last-ulp could differ across libm
    * implementations and summation orders. */
  private def ilog2(c: Column): Column = (length(bin(c)) - 1).cast("long")

  /** q113 — n-gram LM perplexity/quality scoring (the model-based quality
    * filter of CCNet/RefinedWeb-style curation, KenLM-shape): train a
    * bigram LM with stupid backoff (Brants et al. 2007) on the EVEN-doc_id
    * half of the corpus, score every ODD-doc_id document by its average
    * quantized negative log2-likelihood — low bits/token ≈ fluent, in-
    * domain text; high ≈ gibberish. The held-out split is what makes the
    * score a real signal (self-trained scores would see every bigram) and
    * exercises both backoff paths: unseen bigram → unigram backoff
    * (+[[LmBackoffBits]]), unseen word → OOV (+[[LmOovExtraBits]] more).
    *
    * Per adjacent token pair (w1, w2) of a scored doc, with train counts
    * c2 = bigram, c1 = unigram(w1), cu = unigram(w2), N = train tokens:
    *
    *   nlp = ilog2(c1) − ilog2(c2)          c2 > 0   (≥ 0: c2 ≤ c1)
    *       | B + ilog2(N) − ilog2(cu)       c2 = 0, cu > 0
    *       | B + OOV + ilog2(N)             cu = 0
    *
    * score_mbits = (1000 · Σ nlp) div n_pairs — milli-bits per token,
    * pure integer, replayed bit-for-bit by the oracle. Docs with < 2
    * tokens carry the −1 sentinel.
    *
    * Scale: the model is two map-side-combinable hash-aggs over the train
    * half (vocab-bounded outputs, ≪ corpus); scoring is three shuffle
    * hash joins keyed on tokens/bigrams plus one per-doc agg — no
    * broadcast of anything corpus-sized, no window wider than one
    * document, everything codegen. At 100 TB the bigram table is the
    * only large intermediate and it is (distinct bigrams)-sized, shared
    * across all scored partitions by key partitioning. */
  def lmQualityScore(s: SparkSession, d: String): DataFrame =
    lmQualityScoreOf(Tables.documents(s, d))

  private[graft] def lmQualityScoreOf(docs: DataFrame): DataFrame = {
    // adjacent pairs built INSIDE the row (the shingles idiom: slice the
    // words array against its own tail and explode) — one narrow
    // projection per doc, no per-doc window sort; the oracle's
    // lead-over-window formulation is semantically identical
    val wArr = col("w")
    val pairArr = when(size(wArr) >= 2,
      transform(sequence(lit(1), size(wArr) - 1), i =>
        struct(element_at(wArr, i).as("w1"), element_at(wArr, i + 1).as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
    val pairs = docs.select(col("doc_id"), words(col("text")).as("w"))
      .select(col("doc_id"), explode(pairArr).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val trainToks = docs.where(col("doc_id") % 2 === 0)
      .select(explode(words(col("text"))).as("w"))
    val uni = trainToks.groupBy(col("w")).agg(count(lit(1)).as("cu"))
    val nTrain = trainToks.agg(count(lit(1)).as("n"))
    val big = pairs.where(col("doc_id") % 2 === 0)
      .groupBy(col("w1").as("b1"), col("w2").as("b2"))
      .agg(count(lit(1)).as("c2"))
    val scored = pairs.where(col("doc_id") % 2 === 1)
      .join(big, col("w1") === col("b1") && col("w2") === col("b2"), "left")
      .join(uni.select(col("w").as("u1w"), col("cu").as("c1")), col("w1") === col("u1w"), "left")
      .join(uni.select(col("w").as("u2w"), col("cu").as("cu2")), col("w2") === col("u2w"), "left")
      .crossJoin(broadcast(nTrain))
      .select(col("doc_id"),
        when(col("c2").isNotNull, ilog2(col("c1")) - ilog2(col("c2")))
          .when(col("cu2").isNotNull,
            lit(LmBackoffBits) + ilog2(col("n")) - ilog2(col("cu2")))
          .otherwise(lit(LmBackoffBits + LmOovExtraBits) + ilog2(col("n")))
          .as("nlp"))
    val perDoc = scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("nlp")).as("s"))
      .select(col("doc_id"), col("n_pairs"),
        expr("(1000 * s) div n_pairs").as("score_mbits"))
    docs.where(col("doc_id") % 2 === 1).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("score_mbits"), lit(-1L)).as("score_mbits"))
      .orderBy(col("doc_id"))
  }

  val lmQualityScoreSql: String =
    s"""WITH wordpos AS (
       |  SELECT doc_id,
       |    unnest(regexp_extract_all(text, '$wordPat')) AS w,
       |    generate_subscripts(regexp_extract_all(text, '$wordPat'), 1) AS pos
       |  FROM documents),
       | pairs AS (
       |  SELECT doc_id, w AS w1,
       |    lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
       |  FROM wordpos),
       | uni AS (SELECT w, count(*) AS cu FROM wordpos
       |   WHERE doc_id % 2 = 0 GROUP BY w),
       | n AS (SELECT count(*) AS n FROM wordpos WHERE doc_id % 2 = 0),
       | big AS (SELECT w1, w2, count(*) AS c2 FROM pairs
       |   WHERE doc_id % 2 = 0 AND w2 IS NOT NULL GROUP BY w1, w2),
       | sc AS (
       |  SELECT p.doc_id,
       |    CASE WHEN b.c2 IS NOT NULL
       |           THEN (length(bin(u1.cu)) - 1) - (length(bin(b.c2)) - 1)
       |         WHEN u2.cu IS NOT NULL
       |           THEN $LmBackoffBits + (length(bin(n.n)) - 1) - (length(bin(u2.cu)) - 1)
       |         ELSE ${LmBackoffBits + LmOovExtraBits} + (length(bin(n.n)) - 1) END AS nlp
       |  FROM pairs p
       |  LEFT JOIN big b ON p.w1 = b.w1 AND p.w2 = b.w2
       |  LEFT JOIN uni u1 ON p.w1 = u1.w
       |  LEFT JOIN uni u2 ON p.w2 = u2.w
       |  CROSS JOIN n
       |  WHERE p.doc_id % 2 = 1 AND p.w2 IS NOT NULL),
       | per AS (
       |  SELECT doc_id, count(*) AS n_pairs,
       |    CAST((1000 * sum(nlp)) // count(*) AS BIGINT) AS score_mbits
       |  FROM sc GROUP BY doc_id)
       |SELECT d.doc_id,
       |  coalesce(per.n_pairs, 0) AS n_pairs,
       |  coalesce(per.score_mbits, -1) AS score_mbits
       |FROM documents d LEFT JOIN per USING (doc_id)
       |WHERE d.doc_id % 2 = 1
       |ORDER BY d.doc_id""".stripMargin

  /** q171 — LM QUALITY FILTER LEDGER: the APPLY step behind q113 (the
    * r13/r14 audit-needs-a-consumer stance — q155 applies q154's spans,
    * q159 repairs q156's audit; this applies q113's scores). The bigram
    * LM scores every held-out document (q113's exact integer
    * milli-bits-per-token); the filter keeps documents at or below the
    * corpus-mean score (fluent = cheap to predict) and the LEDGER — the
    * artifact a pipeline actually publishes — reports per source how
    * many documents were scored, how many survive, and the keep rate in
    * integer ppm alongside the threshold that produced it. A source
    * whose keep rate craters names a contamination or crawler
    * regression the way q163's accounting names a dedup one.
    *
    * Scale: q113's model + scoring cost (vocab-bounded aggs, token-keyed
    * joins) plus one |sources|-bounded roll-up; the threshold is a
    * single-row aggregate broadcast into the ledger — no second scoring
    * pass, nothing corpus-sized on the driver. */
  def lmQualityFilterLedger(s: SparkSession, d: String): DataFrame = {
    val scored = lmQualityScore(s, d).where(col("n_pairs") > 0)
      .localCheckpoint(true) // feeds the threshold agg AND the ledger
    val thr = scored.agg(expr("sum(score_mbits) div count(1)").as("t"))
    scored
      .join(Tables.documents(s, d).select(col("doc_id"), col("source")),
        Seq("doc_id"))
      .crossJoin(broadcast(thr))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_scored"),
        sum(when(col("score_mbits") <= col("t"), 1L).otherwise(0L))
          .as("n_kept"),
        max(col("t")).as("threshold_mbits"))
      .select(col("source"), col("n_scored"), col("n_kept"),
        expr("(1000000 * n_kept) div n_scored").as("kept_ppm"),
        col("threshold_mbits"))
      .orderBy(col("source"))
  }

  /** Oracle for [[lmQualityFilterLedger]]: q113's CTEs + integer-mean
    * threshold + per-source keep roll-up. */
  val lmQualityFilterLedgerSql: String =
    s"""WITH wordpos AS (
       |  SELECT doc_id,
       |    unnest(regexp_extract_all(text, '$wordPat')) AS w,
       |    generate_subscripts(regexp_extract_all(text, '$wordPat'), 1) AS pos
       |  FROM documents),
       | pairs AS (
       |  SELECT doc_id, w AS w1,
       |    lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
       |  FROM wordpos),
       | uni AS (SELECT w, count(*) AS cu FROM wordpos
       |   WHERE doc_id % 2 = 0 GROUP BY w),
       | n AS (SELECT count(*) AS n FROM wordpos WHERE doc_id % 2 = 0),
       | big AS (SELECT w1, w2, count(*) AS c2 FROM pairs
       |   WHERE doc_id % 2 = 0 AND w2 IS NOT NULL GROUP BY w1, w2),
       | sc AS (
       |  SELECT p.doc_id,
       |    CASE WHEN b.c2 IS NOT NULL
       |           THEN (length(bin(u1.cu)) - 1) - (length(bin(b.c2)) - 1)
       |         WHEN u2.cu IS NOT NULL
       |           THEN $LmBackoffBits + (length(bin(n.n)) - 1) - (length(bin(u2.cu)) - 1)
       |         ELSE ${LmBackoffBits + LmOovExtraBits} + (length(bin(n.n)) - 1) END AS nlp
       |  FROM pairs p
       |  LEFT JOIN big b ON p.w1 = b.w1 AND p.w2 = b.w2
       |  LEFT JOIN uni u1 ON p.w1 = u1.w
       |  LEFT JOIN uni u2 ON p.w2 = u2.w
       |  CROSS JOIN n
       |  WHERE p.doc_id % 2 = 1 AND p.w2 IS NOT NULL),
       | per AS (
       |  SELECT doc_id, count(*) AS n_pairs,
       |    CAST((1000 * sum(nlp)) // count(*) AS BIGINT) AS score_mbits
       |  FROM sc GROUP BY doc_id),
       | thr AS (
       |  SELECT CAST(sum(score_mbits) // count(*) AS BIGINT) AS t FROM per),
       | ledger AS (
       |  SELECT d.source,
       |    CAST(count(*) AS BIGINT) AS n_scored,
       |    CAST(count(*) FILTER (WHERE per.score_mbits <= thr.t) AS BIGINT)
       |      AS n_kept,
       |    CAST(max(thr.t) AS BIGINT) AS threshold_mbits
       |  FROM per JOIN documents d USING (doc_id) CROSS JOIN thr
       |  GROUP BY d.source)
       |SELECT source, n_scored, n_kept,
       |  CAST((1000000 * n_kept) // n_scored AS BIGINT) AS kept_ppm,
       |  threshold_mbits
       |FROM ledger
       |ORDER BY source""".stripMargin

  /** Hashed-feature space for [[dsirResample]]: 8192 buckets from a
    * 16-bit md5 prefix (the suite's portable-hash convention — q101's
    * kmvHash shape); 2^16 mod 8192 = 0, so the fold is unbiased. */
  private val DsirBuckets = 8192
  private def dsirBucket(f: Column): Column =
    conv(substring(md5(concat(lit("dsir|"), f)), 1, 4), 16, 10)
      .cast("long") % DsirBuckets

  /** q118 — DSIR: Data Selection via Importance Resampling (Xie et al.,
    * NeurIPS 2023), the published recipe for "pick raw-web documents
    * that look like the target domain": fit two bag-of-hashed-n-grams
    * unigram models — one on the TARGET slice (here `lang = 'en'`, the
    * paper's formal-text stand-in), one on the full RAW pool — and
    * weight every document by its likelihood ratio between them. Docs
    * with log-ratio > 0 look more target-like than raw-average and are
    * kept; the weight itself is the resampling input.
    *
    * Features are the paper's: unigrams AND adjacent bigrams, hashed
    * into [[DsirBuckets]] buckets (hashing is what BOUNDS the model at
    * any corpus size — the vocabulary can grow with the data, the
    * bucket table cannot). Per feature instance with target count ct,
    * raw count cr, totals Nt/Nr (add-one smoothed over B buckets):
    *
    *   λ(b)  = ilog2(ct(b)+1) − ilog2(cr(b)+1)
    *   off   = ilog2(Nr+B) − ilog2(Nt+B)
    *   log₂w = Σ_i λ(b_i) + n·off      (1-bit-quantized, q113 convention)
    *
    * logw_mbits = 1000·log₂w, pure integer with NO division — the
    * importance weight is deliberately NOT length-normalized (a weight
    * is a product of per-feature ratios; that is what "importance"
    * means in the paper — and skipping the division also sidesteps the
    * trunc-vs-floor divergence the q110 advice item was about). keep =
    * logw_mbits > 0. Featureless docs carry (0, 0, false).
    *
    * Scale: this is the cheapest model-based filter in the suite — the
    * model is TWO ≤B-row hash-aggs (map-side combined; the target agg
    * is a filtered second aggregate over the same scan), the λ table is
    * ≤8192 rows and BROADCASTS, so scoring is one narrow explode + one
    * broadcast hash join + one per-doc agg: the corpus is scanned, never
    * shuffled row-for-row (contrast q113, whose token-keyed model forces
    * three shuffle joins). At 100 TB the only wide op is the per-doc
    * sum, combined map-side. */
  def dsirResample(s: SparkSession, d: String): DataFrame =
    dsirResampleOf(Tables.documents(s, d))

  private[graft] def dsirResampleOf(docs: DataFrame): DataFrame = {
    val wArr = col("w")
    val bigrams = when(size(wArr) >= 2,
      transform(sequence(lit(1), size(wArr) - 1), i =>
        concat(element_at(wArr, i), lit(" "), element_at(wArr, i + 1))))
      .otherwise(array().cast("array<string>"))
    val featsRaw = docs.select(col("doc_id"), col("lang"), words(col("text")).as("w"))
      .select(col("doc_id"), col("lang"),
        explode(concat(wArr, bigrams)).as("f"))
      .select(col("doc_id"), col("lang"), dsirBucket(col("f")).as("b"))
    // r18 (guide §5 cache-vs-recompute): persist the hashed feature
    // table (three narrow long columns; in-query and CacheManager-
    // tracked, so Bench's per-pass clearCache releases it — NOT
    // localCheckpoint, which clearCache cannot release and would carry
    // materialized data across bench passes) so the MODEL pass and the
    // SCORING pass both read it instead of each re-running the regexp
    // tokenize + explode + md5 bucket. sf1 A/B (ConfAB, one JVM,
    // alternating): persist 1.99/2.13 s warm-min/med vs recompute
    // 2.53/2.67 — −21%, consistent ordering; at 100 TB this halves the
    // tokenize CPU for one narrow materialization that spills to disk
    // at worst.
    val feats = featsRaw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // one pass builds BOTH models: raw count + filtered target count;
    // the ≤B-row model is COLLECTED into a LocalRelation (not .cache(),
    // which outlived the query and accumulated across invocations — r9
    // advice item) so the totals agg and the λ projection don't each
    // re-scan the corpus — the whole operator is TWO corpus scans
    // (model, scoring), the floor for a two-pass method
    val modelAgg = feats.groupBy(col("b"))
      .agg(count(lit(1)).as("cr"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"))
    val model = docs.sparkSession.createDataFrame(
      java.util.Arrays.asList(modelAgg.collect(): _*), modelAgg.schema)
    val totals = model.agg(sum(col("cr")).as("nr"), sum(col("ct")).as("nt"))
    val lam = model.crossJoin(broadcast(totals))
      .select(col("b"),
        (ilog2(col("ct") + 1) - ilog2(col("cr") + 1)).as("lam"),
        (ilog2(col("nr") + DsirBuckets) - ilog2(col("nt") + DsirBuckets)).as("off"))
    val perDoc = feats.join(broadcast(lam), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feats"),
        (lit(1000L) * (sum(col("lam")) + count(lit(1)) * first(col("off"))))
          .as("logw_mbits"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("logw_mbits"), lit(0L)).as("logw_mbits"),
        (coalesce(col("logw_mbits"), lit(0L)) > 0).as("keep"))
      .orderBy(col("doc_id"))
  }

  val dsirResampleSql: String =
    s"""WITH wl AS (
       |  SELECT doc_id, lang, regexp_extract_all(text, '$wordPat') AS ws
       |  FROM documents),
       | uni AS (SELECT doc_id, lang, unnest(ws) AS f FROM wl),
       | big AS (
       |  SELECT doc_id, lang, ws[i] || ' ' || ws[i+1] AS f
       |  FROM (SELECT doc_id, lang, ws, unnest(range(1, len(ws))) AS i FROM wl)),
       | feats AS (
       |  SELECT doc_id, lang,
       |    CAST('0x' || substr(md5('dsir|' || f), 1, 4) AS BIGINT) % $DsirBuckets AS b
       |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM big)),
       | model AS (
       |  SELECT b, count(*) AS cr,
       |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ct
       |  FROM feats GROUP BY b),
       | tot AS (SELECT CAST(sum(cr) AS BIGINT) AS nr, CAST(sum(ct) AS BIGINT) AS nt
       |         FROM model),
       | lam AS (
       |  SELECT b,
       |    (length(bin(ct + 1)) - 1) - (length(bin(cr + 1)) - 1) AS lam,
       |    (length(bin(nr + $DsirBuckets)) - 1)
       |      - (length(bin(nt + $DsirBuckets)) - 1) AS off
       |  FROM model CROSS JOIN tot),
       | per AS (
       |  SELECT f.doc_id, count(*) AS n_feats,
       |    CAST(1000 * (sum(l.lam) + count(*) * any_value(l.off)) AS BIGINT)
       |      AS logw_mbits
       |  FROM feats f JOIN lam l USING (b) GROUP BY f.doc_id)
       |SELECT d.doc_id,
       |  coalesce(per.n_feats, 0) AS n_feats,
       |  coalesce(per.logw_mbits, 0) AS logw_mbits,
       |  coalesce(per.logw_mbits, 0) > 0 AS keep
       |FROM documents d LEFT JOIN per USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** q139 — DISTRIBUTION DRIFT AUDIT between two corpus snapshots (the
    * data-drift monitor a training pipeline runs before mixing a new
    * crawl into the pool): per feature (language mix; length histogram)
    * and bucket, both snapshots' counts and integer-ppm shares plus the
    * per-bucket drift |ppm_a − ppm_b|. Summing drift_ppm per feature
    * and halving gives the total-variation distance in ppm — TVD is
    * chosen over PSI/KL exactly because it needs NO logarithm: the
    * whole report is integer arithmetic (`div`, abs), so the drift
    * decision is hash-exact in both engines (the q135 convention; a
    * PSI's `ln` could differ in the last ulp between libm and the JVM).
    * Snapshots: the early sources (src0–src9) vs the rest — a
    * source-mix shift, the production drift case.
    *
    * Shape: ONE scan into a (2 snapshots × features × buckets) bounded
    * count (map-side partial), snapshot totals broadcast back, full
    * outer per-bucket alignment (a bucket absent from one snapshot is
    * 0 ppm there — that asymmetry IS drift, not an error). Output is
    * bounded by the bucket vocabulary at any corpus size. */
  def driftAudit(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(when(length(col("source")) === 4, lit(0L)).otherwise(lit(1L)).as("snap"),
        col("lang"),
        concat(lit("len_"),
          lpad(least(expr("n_chars div 50"), lit(19L)).cast("string"), 2, "0"))
          .as("len_bucket"))
    val feats = docs.select(col("snap"), lit("lang").as("feature"),
        col("lang").as("bucket"))
      .unionAll(docs.select(col("snap"), lit("len").as("feature"),
        col("len_bucket").as("bucket")))
    val counts = feats.groupBy(col("snap"), col("feature"), col("bucket"))
      .agg(count(lit(1)).as("c"))
    // per-snapshot doc totals (same denominator for every feature)
    val tot = docs.groupBy(col("snap")).agg(count(lit(1)).as("n"))
    val ppm = counts.join(broadcast(tot), "snap")
      .select(col("snap"), col("feature"), col("bucket"), col("c"),
        expr("(1000000 * c) div n").as("ppm"))
    val a = ppm.where(col("snap") === 0)
      .select(col("feature"), col("bucket"), col("c").as("n_a"),
        col("ppm").as("ppm_a"))
    val b = ppm.where(col("snap") === 1)
      .select(col("feature"), col("bucket"), col("c").as("n_b"),
        col("ppm").as("ppm_b"))
    a.join(b, Seq("feature", "bucket"), "full")
      .select(col("feature"), col("bucket"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        coalesce(col("ppm_a"), lit(0L)).as("ppm_a"),
        coalesce(col("ppm_b"), lit(0L)).as("ppm_b"),
        abs(coalesce(col("ppm_a"), lit(0L)) - coalesce(col("ppm_b"), lit(0L)))
          .as("drift_ppm"))
      .orderBy(col("feature"), col("bucket"))
  }

  /** Oracle for [[driftAudit]]: the identical two-snapshot ppm report. */
  val driftAuditSql: String =
    """WITH docs AS (
      |  SELECT CASE WHEN length(source) = 4 THEN 0 ELSE 1 END AS snap,
      |    lang,
      |    'len_' || lpad(CAST(least(n_chars // 50, 19) AS VARCHAR), 2, '0')
      |      AS len_bucket
      |  FROM documents),
      | feats AS (
      |  SELECT snap, 'lang' AS feature, lang AS bucket FROM docs
      |  UNION ALL
      |  SELECT snap, 'len', len_bucket FROM docs),
      | counts AS (
      |  SELECT snap, feature, bucket, count(*) AS c
      |  FROM feats GROUP BY 1, 2, 3),
      | tot AS (SELECT snap, count(*) AS n FROM docs GROUP BY 1),
      | ppm AS (
      |  SELECT c.snap, c.feature, c.bucket, c.c,
      |    (1000000 * c.c) // t.n AS ppm
      |  FROM counts c JOIN tot t USING (snap)),
      | a AS (SELECT feature, bucket, c AS n_a, ppm AS ppm_a
      |       FROM ppm WHERE snap = 0),
      | b AS (SELECT feature, bucket, c AS n_b, ppm AS ppm_b
      |       FROM ppm WHERE snap = 1)
      |SELECT coalesce(a.feature, b.feature) AS feature,
      |  coalesce(a.bucket, b.bucket) AS bucket,
      |  CAST(coalesce(a.n_a, 0) AS BIGINT) AS n_a,
      |  CAST(coalesce(b.n_b, 0) AS BIGINT) AS n_b,
      |  CAST(coalesce(a.ppm_a, 0) AS BIGINT) AS ppm_a,
      |  CAST(coalesce(b.ppm_b, 0) AS BIGINT) AS ppm_b,
      |  CAST(abs(coalesce(a.ppm_a, 0) - coalesce(b.ppm_b, 0)) AS BIGINT)
      |    AS drift_ppm
      |FROM a FULL OUTER JOIN b
      |  ON a.feature = b.feature AND a.bucket = b.bucket
      |ORDER BY 1, 2""".stripMargin
}
