package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-curation operators — the remaining prep steps a training-data
  * pipeline runs between dedup/quality-filtering and the trainer: context
  * chunking, PII scrubbing, repetition (Gopher-style) stats, corpus
  * mixture allocation, and multi-dimensional data layout.
  *
  * Design rules shared by every operator here:
  *  - NARROW where possible: chunking, scrubbing, and repetition stats
  *    are pure per-row expressions (higher-order array functions +
  *    regexp), so they run inside whole-stage codegen with zero shuffle —
  *    at 100 TB the cost is the scan.
  *  - EXACT-INTEGER outputs wherever a ratio would be compared: the q68
  *    lesson ("an exact-integer ratio lands ON .5 boundaries where engine
  *    rounding modes split") generalizes — repetition stats emit
  *    numerator/denominator pairs and the keep-flag is decided by integer
  *    cross-multiplication; mixture allocation uses integer-floored
  *    sqrt weights and largest-remainder rounding, so both engines agree
  *    bit-for-bit with no float in any compared column.
  */
object Curation {

  // ---------------------------------------------------------------------
  // q81: document chunking with overlap
  // ---------------------------------------------------------------------

  /** Split each document's token sequence into fixed-size overlapping
    * chunks — the context-window prep step (RAG indexing, long-doc
    * training). Chunk k covers tokens [k*stride, k*stride + size), the
    * last chunk may be short, consecutive chunks overlap by size-stride
    * tokens. Emits the chunk's md5 so the oracle verifies CONTENT, not
    * just offsets.
    *
    * Scale: `explode(sequence(...))` is a narrow generator — ~n/stride
    * output rows per doc, no shuffle, no state; the orderBy is
    * presentation-only (gate determinism) and would be dropped in a
    * pipeline context. */
  def docChunks(df: DataFrame, text: Column,
                chunkTokens: Int = 128, strideTokens: Int = 96): DataFrame = {
    val S = strideTokens.toLong
    val C = chunkTokens.toLong
    df.withColumn("toks", TextAnalysis.words(text))
      .withColumn("n", size(col("toks")).cast("long"))
      .where(col("n") > 0)
      // integer ceil(n/S): float ceil drifts at large n, div doesn't
      .withColumn("chunk_id",
        explode(sequence(lit(0L), expr(s"(n + ${S - 1}L) div ${S}L") - 1L)))
      .withColumn("start_tok", col("chunk_id") * S)
      .withColumn("n_tok", least(lit(C), col("n") - col("start_tok")))
      .withColumn("chunk_md5",
        md5(array_join(slice(col("toks"), (col("start_tok") + 1).cast("int"),
          col("n_tok").cast("int")), " ")))
  }

  /** Gate face (q81) on `documents`. */
  def docChunksGate(s: SparkSession, d: String): DataFrame =
    docChunks(Tables.documents(s, d), col("text"))
      .select(col("doc_id"), col("chunk_id"), col("start_tok"),
        col("n_tok"), col("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_id"))

  val docChunksSql: String =
    """WITH t AS (
      |  SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS toks,
      |         CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS n
      |  FROM documents),
      | ch AS (
      |  SELECT doc_id, n, toks,
      |    unnest(range(0, (n + 95) // 96)) AS chunk_id
      |  FROM t WHERE n > 0)
      |SELECT doc_id, chunk_id, chunk_id * 96 AS start_tok,
      |  least(128, n - chunk_id * 96) AS n_tok,
      |  md5(array_to_string(
      |    toks[chunk_id*96 + 1 : chunk_id*96 + least(128, n - chunk_id*96)],
      |    ' ')) AS chunk_md5
      |FROM ch ORDER BY doc_id, chunk_id""".stripMargin

  // ---------------------------------------------------------------------
  // q88: chunk-level (sub-document) deduplication
  // ---------------------------------------------------------------------

  /** Deduplicate at CHUNK granularity across the corpus — the curation
    * step document-level dedup misses: boilerplate paragraphs (headers,
    * license blocks, navigation) repeat across otherwise-distinct
    * documents, and near-dup documents share exact chunks even when the
    * whole text differs. Keep-first rule: a chunk's content survives in
    * the lexicographically smallest (doc_id, chunk_id) that carries it.
    *
    * Scale: the winner per content hash is a `min(struct(doc_id,
    * chunk_id))` AGGREGATE with a map-side partial step (struct buffers
    * force SortAggregate, but the partial combine still collapses each
    * partition to one row per hash BEFORE the exchange) — where the
    * naive rank-window formulation has no partial step at all and
    * shuffles every chunk occurrence, then sorts each hash group (the
    * oracle deliberately runs that naive window, so the two plans check
    * each other). One shuffle for the agg, one for the join back, both
    * on the ~uniform chunk_md5 key; output is a per-document summary,
    * chunk payloads never leave their partitions. */
  def chunkDedup(df: DataFrame, text: Column): DataFrame = {
    val ch = docChunks(df, text)
    val winners = ch.groupBy(col("chunk_md5"))
      .agg(min(struct(col("doc_id"), col("chunk_id"))).as("w"))
      .select(col("chunk_md5"), col("w.doc_id").as("w_doc"),
        col("w.chunk_id").as("w_chunk"))
    ch.join(winners, "chunk_md5")
      .withColumn("kept",
        (col("doc_id") === col("w_doc") && col("chunk_id") === col("w_chunk"))
          .cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("kept")).as("n_kept"),
        sum(when(col("kept") === 1L, col("n_tok")).otherwise(0L)).as("kept_tok"))
  }

  /** Gate face (q88) on `documents`: per-doc chunk/kept/token counts —
    * all exact integers. */
  def chunkDedupGate(s: SparkSession, d: String): DataFrame =
    chunkDedup(Tables.documents(s, d), col("text"))
      .orderBy(col("doc_id"))

  val chunkDedupSql: String =
    """WITH t AS (
      |  SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS toks,
      |         CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS n
      |  FROM documents),
      | ch AS (
      |  SELECT doc_id, n, toks,
      |    unnest(range(0, (n + 95) // 96)) AS chunk_id
      |  FROM t WHERE n > 0),
      | cells AS (
      |  SELECT doc_id, chunk_id,
      |    least(128, n - chunk_id * 96) AS n_tok,
      |    md5(array_to_string(
      |      toks[chunk_id*96 + 1 : chunk_id*96 + least(128, n - chunk_id*96)],
      |      ' ')) AS chunk_md5
      |  FROM ch),
      | ranked AS (
      |  SELECT doc_id, chunk_id, n_tok,
      |    row_number() OVER (PARTITION BY chunk_md5
      |                       ORDER BY doc_id, chunk_id) AS rk
      |  FROM cells)
      |SELECT doc_id, count(*) AS n_chunks,
      |  CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(sum(CASE WHEN rk = 1 THEN n_tok ELSE 0 END) AS BIGINT) AS kept_tok
      |FROM ranked GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q89: cross-document n-gram novelty
  // ---------------------------------------------------------------------

  /** Per-document novelty score — the fraction of a document's DISTINCT
    * bigrams that appear in no other document (document frequency 1).
    * The cross-corpus complement of q83's within-document repetition
    * rules: boilerplate-heavy docs (headers, licenses, templated text)
    * score low because their n-grams recur corpus-wide. Outputs are
    * EXACT INTEGERS (distinct-bigram count, novel-bigram count); any
    * ratio/threshold is left to the caller as integer cross-multiply,
    * the q83 convention.
    *
    * Scale: per-doc DISTINCT bigrams first (array HOF, narrow — within-doc
    * duplicates never reach the shuffle), then ONE hash-agg on the bigram
    * key for document frequency (map-side combined) and one join back on
    * the same key. No self-join: candidate volume is the postings size,
    * linear in corpus tokens — the q32 postings shape without its
    * quadratic pair step. */
  /** The (doc, bigram)-distinct postings table [[ngramNovelty]] is built
    * on. */
  private def bigramPostings(df: DataFrame, idCol: Column, text: Column): DataFrame = {
    val toks = df.select(idCol.as("doc_id"), TextAnalysis.words(text).as("toks"))
    toks.select(col("doc_id"),
      array_distinct(zip_with(
        slice(col("toks"), lit(1), greatest(size(col("toks")) - 1, lit(0))),
        slice(col("toks"), lit(2), greatest(size(col("toks")) - 1, lit(0))),
        (a, b) => concat(a, lit(" "), b))).as("bgs"))
      .where(size(col("bgs")) > 0)
      .select(col("doc_id"), explode(col("bgs")).as("bg"))
  }

  def ngramNovelty(df: DataFrame, idCol: Column, text: Column): DataFrame = {
    val bigrams = bigramPostings(df, idCol, text)
    // r18 (guide §2.3 "aggregate before you shuffle"): a df=1 bigram is
    // owned by exactly ONE doc, so min(doc_id) over the dfreq aggregate
    // IDENTIFIES the owner — per-doc novel counts then come from a
    // second aggregate over the ≤|distinct bigrams| df=1 rows, and
    // per-doc totals from a doc-keyed aggregate of the postings (both
    // map-side combined). The pre-r18 join-back of raw postings to dfreq
    // — the one shuffle that carried every (doc, bg) row through the
    // exchange, then re-shuffled the join output by doc — is GONE; only
    // aggregate partials shuffle. Output identical: n_bigrams = per-doc
    // distinct bigrams, n_novel = its df=1 subset (proved by the
    // unchanged brute-form oracle). sf1 A/B (ConfAB, one JVM,
    // alternating): 1.27/1.32 s warm-min/med vs the join form's
    // 3.74/3.99 — 2.9× at 10× gate data, and the gap widens with volume
    // (the removed shuffle carried the whole postings table).
    val own = bigrams.groupBy(col("bg"))
      .agg(count(lit(1)).as("df"), min(col("doc_id")).as("d0"))
    val novel = own.where(col("df") === 1L)
      .groupBy(col("d0").as("doc_id")).agg(count(lit(1)).as("n_novel"))
    bigrams.groupBy(col("doc_id")).agg(count(lit(1)).as("n_bigrams"))
      .join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_bigrams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
  }

  /** Gate face (q89) on `documents`. */
  def ngramNoveltyGate(s: SparkSession, d: String): DataFrame =
    ngramNovelty(Tables.documents(s, d), col("doc_id"), col("text"))
      .orderBy(col("doc_id"))

  val ngramNoveltySql: String =
    """WITH t AS (
      |  SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS toks
      |  FROM documents),
      | idx AS (
      |  SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
      |  FROM t WHERE len(toks) >= 2),
      | bg AS (
      |  SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i + 1] AS bg
      |  FROM idx),
      | dfreq AS (
      |  SELECT bg, count(*) AS df FROM bg GROUP BY bg)
      |SELECT doc_id, count(*) AS n_bigrams,
      |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
      |FROM bg JOIN dfreq USING (bg)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q82: PII scrubbing
  // ---------------------------------------------------------------------

  // Case-insensitive classes: real text mixes case in the local part and
  // domain. The local-part and digit runs use POSSESSIVE quantifiers
  // (`++`): Java's backtracking regex otherwise retries every shorter
  // prefix of each alphanumeric run when the following literal fails —
  // O(k²) per run over the whole corpus. Possessive is safe here because
  // the char after the class (`@` / `.`) is never IN the class, so greedy
  // and possessive accept the same language. The DuckDB oracle replays
  // the same pattern WITHOUT `++` (RE2 is automaton-based: no
  // backtracking to cut, and no possessive syntax) — same language, so
  // the gate stays equivalent-by-construction.
  private val EmailPat = "[A-Za-z0-9._%+-]++@[A-Za-z0-9.-]+[A-Za-z0-9]"
  private val Ipv4Pat = "[0-9]++\\.[0-9]++\\.[0-9]++\\.[0-9]+"

  /** Count-and-redact PII patterns (emails, then IPv4) in a text column.
    * Returns (n_email, n_ip, cleaned). Counts are taken BEFORE redaction;
    * redaction order (emails first) is part of the contract — an IPv4
    * inside a redacted email never double-counts. Pure regexp built-ins:
    * codegen'd, narrow, zero shuffle. */
  def piiScrub(text: Column): (Column, Column, Column) = {
    val nEmail = regexp_count(text, lit(EmailPat)).cast("long")
    val nIp = regexp_count(text, lit(Ipv4Pat)).cast("long")
    val clean = regexp_replace(
      regexp_replace(text, EmailPat, "<email>"), Ipv4Pat, "<ip>")
    (nEmail, nIp, clean)
  }

  /** Gate face (q82). The synthetic corpus is PII-free by construction,
    * so the gate INJECTS deterministic PII derived from doc_id (same
    * closed-form on both engines — the Multimodal fake-payload pattern,
    * cf. Multimodal.scala's doc_id-derived codecs) and then proves the
    * scrubber finds and removes exactly it. The operator itself
    * ([[piiScrub]]) is generic. */
  def piiScrubGate(s: SparkSession, d: String): DataFrame = {
    val injected = concat(
      col("text"), lit(" contact user"), col("doc_id").cast("string"),
      lit("@mail.example or admin@corp.example ip 10."),
      (col("doc_id") % 200).cast("string"), lit("."),
      (col("doc_id") % 250).cast("string"), lit("."),
      (col("doc_id") % 100).cast("string"))
    val (nEmail, nIp, clean) = piiScrub(injected)
    Tables.documents(s, d)
      .select(col("doc_id"), nEmail.as("n_email"), nIp.as("n_ip"),
        length(clean).cast("long").as("clean_len"), md5(clean).as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  val piiScrubSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    text || ' contact user' || CAST(doc_id AS VARCHAR)
      |      || '@mail.example or admin@corp.example ip 10.'
      |      || CAST(doc_id % 200 AS VARCHAR) || '.'
      |      || CAST(doc_id % 250 AS VARCHAR) || '.'
      |      || CAST(doc_id % 100 AS VARCHAR) AS s
      |  FROM documents),
      | c AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(s, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[A-Za-z0-9]')) AS BIGINT) AS n_email,
      |    CAST(len(regexp_extract_all(s, '[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+')) AS BIGINT) AS n_ip,
      |    regexp_replace(
      |      regexp_replace(s, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[A-Za-z0-9]', '<email>', 'g'),
      |      '[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+', '<ip>', 'g') AS clean
      |  FROM t)
      |SELECT doc_id, n_email, n_ip,
      |  CAST(len(clean) AS BIGINT) AS clean_len, md5(clean) AS clean_md5
      |FROM c ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q83: repetition stats (Gopher-style quality rules)
  // ---------------------------------------------------------------------

  /** Per-document repetition statistics — the Gopher repetition rules
    * ("fraction of most-common token", "fraction of duplicate n-grams")
    * that catch boilerplate and degenerate generations. All counts are
    * EXACT INTEGERS; the keep decision is integer cross-multiplication
    * (top_tok_cnt/n_tok <= 1/5 AND dup_bigram_cnt/n_bigram <= 1/2), so
    * no float ever reaches a compared column.
    *
    * Scale: computed with array higher-order functions — narrow, zero
    * shuffle, codegen'd. top_tok_cnt is O(distinct·n) per doc; for web-doc
    * token counts (10²-10⁴) that is microseconds and beats the
    * explode+groupBy alternative, which shuffles the whole exploded corpus
    * twice. (Past ~10⁵ tokens/doc, flip to explode+groupBy per doc-chunk.) */
  def repetitionStats(df: DataFrame, text: Column): DataFrame =
    df.withColumn("w", TextAnalysis.words(text))
      .where(size(col("w")) > 0)
      .withColumn("n_tok", size(col("w")).cast("long"))
      .withColumn("top_tok_cnt", expr(
        "CAST(array_max(transform(array_distinct(w), x -> size(filter(w, y -> y = x)))) AS BIGINT)"))
      // adjacent-token bigrams via indexed transform (0-based lambda index)
      .withColumn("bg", expr(
        "transform(slice(w, 1, size(w) - 1), (x, i) -> concat(x, ' ', element_at(w, i + 2)))"))
      .withColumn("n_bigram", size(col("bg")).cast("long"))
      .withColumn("dup_bigram_cnt",
        (size(col("bg")) - size(array_distinct(col("bg")))).cast("long"))
      .withColumn("keep",
        col("top_tok_cnt") * 5 <= col("n_tok") &&
          col("dup_bigram_cnt") * 2 <= col("n_bigram"))

  /** Gate face (q83). */
  def repetitionGate(s: SparkSession, d: String): DataFrame =
    repetitionStats(Tables.documents(s, d), col("text"))
      .select(col("doc_id"), col("n_tok"), col("top_tok_cnt"),
        col("n_bigram"), col("dup_bigram_cnt"), col("keep"))
      .orderBy(col("doc_id"))

  val repetitionSql: String =
    """WITH t AS (
      |  SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS w
      |  FROM documents),
      | s AS (
      |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tok,
      |    CAST(list_max(list_transform(list_distinct(w),
      |      x -> len(list_filter(w, y -> y = x)))) AS BIGINT) AS top_tok_cnt,
      |    list_transform(w[1:len(w)-1], (x, i) -> x || ' ' || w[i+1]) AS bg
      |  FROM t WHERE len(w) > 0)
      |SELECT doc_id, n_tok, top_tok_cnt,
      |  CAST(len(bg) AS BIGINT) AS n_bigram,
      |  CAST(len(bg) - len(list_distinct(bg)) AS BIGINT) AS dup_bigram_cnt,
      |  (top_tok_cnt * 5 <= n_tok) AND
      |    (CAST(len(bg) - len(list_distinct(bg)) AS BIGINT) * 2
      |      <= CAST(len(bg) AS BIGINT)) AS keep
      |FROM s ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q84: corpus mixture allocation
  // ---------------------------------------------------------------------

  /** Allocate a fixed sampling budget across corpus cells with sublinear
    * (α<1) weighting — the "don't let the biggest source drown the
    * mixture" step of corpus mixing. Real pipelines use n^α with α≈0.7;
    * the gate face uses w = floor(sqrt(n)) (α=0.5 with IEEE-exact sqrt,
    * floored to an INTEGER) plus largest-remainder rounding, so the whole
    * allocation is exact integer arithmetic and replays bit-for-bit in
    * any engine — no pow() last-ulp drift can reach a compared column.
    *
    * Scale: one hash-agg over the corpus, then all window functions run
    * on the per-cell AGGREGATE (|sources|×|langs| rows — thousands at
    * most, by construction corpus-size-independent), so the unpartitioned
    * windows here are bounded the way q49's summary level is. */
  def mixtureAllocation(df: DataFrame, cells: Seq[Column],
                        budget: Long = 100000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val all = Window.partitionBy() // per-cell aggregate: bounded rows
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val counts = df.groupBy(cells: _*).agg(count(lit(1)).cast("long").as("n_docs"))
      .withColumn("w", floor(sqrt(col("n_docs"))).cast("long"))
      .withColumn("tot", sum(col("w")).over(all))
    val ranked = counts
      .withColumn("base", expr(s"(${budget}L * w) div tot"))
      .withColumn("rem", (lit(budget) * col("w")) % col("tot"))
      .withColumn("leftover", lit(budget) - sum(col("base")).over(all))
      .withColumn("rn", row_number().over(
        Window.partitionBy().orderBy(col("rem").desc +: cells.map(_.asc): _*)))
    ranked.withColumn("alloc",
      col("base") + when(col("rn") <= col("leftover"), 1L).otherwise(0L))
  }

  /** Gate face (q84): mixture over documents (source, lang) cells. */
  def mixtureGate(s: SparkSession, d: String): DataFrame =
    mixtureAllocation(Tables.documents(s, d), Seq(col("source"), col("lang")))
      .select(col("source"), col("lang"), col("n_docs"), col("w"), col("alloc"))
      .orderBy(col("source"), col("lang"))

  val mixtureSql: String =
    """WITH n AS (
      |  SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs
      |  FROM documents GROUP BY 1, 2),
      | w AS (
      |  SELECT source, lang, n_docs,
      |    CAST(floor(sqrt(n_docs)) AS BIGINT) AS w FROM n),
      | b AS (SELECT *, CAST(sum(w) OVER () AS BIGINT) AS tot FROM w),
      | a AS (
      |  SELECT source, lang, n_docs, w,
      |    (100000 * w) // tot AS base, (100000 * w) % tot AS rem,
      |    CAST(100000 - sum((100000 * w) // tot) OVER () AS BIGINT) AS leftover
      |  FROM b)
      |SELECT source, lang, n_docs, w,
      |  base + CASE WHEN CAST(row_number() OVER
      |      (ORDER BY rem DESC, source ASC, lang ASC) AS BIGINT) <= leftover
      |    THEN 1 ELSE 0 END AS alloc
      |FROM a ORDER BY source, lang""".stripMargin

  // ---------------------------------------------------------------------
  // q85: Z-order (Morton) data layout
  // ---------------------------------------------------------------------

  /** Morton (Z-order) interleave of two 10-bit dimensions — the
    * multi-dimensional data-layout key. Writing a table range-partitioned
    * and sorted by zkey clusters rows that are close in BOTH dimensions
    * into the same files, so min/max file statistics prune scans for
    * predicates on EITHER dimension (the classic Delta/Iceberg OPTIMIZE
    * ZORDER trick, done with plain Spark: repartitionByRange(zkey) +
    * sortWithinPartitions).
    *
    * The bit-interleave is a fixed 20-term integer expression — codegen'd,
    * narrow, replayable verbatim in any engine with shift/and/or. */
  private def mortonExpr(dialect: String): String = {
    val terms = (0 until 10).flatMap { i =>
      dialect match {
        case "spark" => Seq(
          s"shiftleft(shiftright(ux, $i) & 1, ${2 * i})",
          s"shiftleft(shiftright(vx, $i) & 1, ${2 * i + 1})")
        case _ => Seq(
          s"(((ux >> $i) & 1) << ${2 * i})",
          s"(((vx >> $i) & 1) << ${2 * i + 1})")
      }
    }
    terms.mkString(" | ")
  }

  /** Gate face (q85): z-key events on (user bucket, value bucket), then
    * summarize per layout bucket (zkey >> 14, ≤64 buckets): row count and
    * the min/max of each dimension — exactly the file-statistics ranges a
    * scan would prune on. The per-bucket min/max spans being narrow in
    * BOTH dims (asserted in spec) is the locality property that makes the
    * layout worth writing. */
  def zorderGate(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("ux", col("user_id") % 1024)
      .withColumn("vx", abs(floor(col("value") * 10).cast("long")) % 1024)
      .withColumn("zkey", expr(mortonExpr("spark")))
      .groupBy(expr("zkey div 16384").as("zbucket"))
      .agg(count(lit(1)).as("n"),
        min(col("ux")).as("min_ux"), max(col("ux")).as("max_ux"),
        min(col("vx")).as("min_vx"), max(col("vx")).as("max_vx"))
      .orderBy(col("zbucket"))

  val zorderSql: String =
    s"""WITH t AS (
       |  SELECT event_id, user_id % 1024 AS ux,
       |    abs(CAST(floor(value * 10) AS BIGINT)) % 1024 AS vx
       |  FROM events),
       | z AS (SELECT event_id, ux, vx, ${mortonExpr("duck")} AS zkey FROM t)
       |SELECT zkey // 16384 AS zbucket, CAST(count(*) AS BIGINT) AS n,
       |  min(ux) AS min_ux, max(ux) AS max_ux,
       |  min(vx) AS min_vx, max(vx) AS max_vx
       |FROM z GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // q97: per-source document cap (bounded top-k aggregate)
  // ---------------------------------------------------------------------

  /** Cap each source/domain at `cap` documents, chosen by an md5-hash
    * ranking (an unbiased per-key subsample — the Common Crawl-style
    * "no domain may dominate the mixture" curation rule).
    *
    * Scale: the naive plan (`row_number() OVER (PARTITION BY source
    * ORDER BY rank) <= cap`) shuffles and SORTS every row of every
    * domain; one hot domain with 1B pages is a straggler at 100 TB. This
    * plan runs [[graft.functions.TopKAgg]] — a bounded
    * TypedImperativeAggregate whose state is <= cap entries per group
    * with map-side partial aggregation — so the hot domain forwards at
    * most tasks*cap entries through the shuffle and the sort disappears
    * entirely. The md5 rank makes the kept set deterministic and
    * engine-replayable (the oracle's window query proves the bounded
    * aggregate ≡ the full sort, row for row). */
  def sourceCap(df: DataFrame, key: Column, id: Column, cap: Int): DataFrame =
    df.groupBy(key)
      .agg(graft.functions.TopKAgg.topKByRank(
        md5(id.cast("string")), id.cast("long"), cap).as("kept"))
      .select(key, explode(col("kept")).as("doc_id"))

  /** Gate face (q97): documents capped at 10 per source (25/source at
    * sf0.01, so every source truncates — the cap is exercised, not
    * vacuous). */
  def sourceCapGate(s: SparkSession, d: String): DataFrame =
    sourceCap(Tables.documents(s, d), col("source"), col("doc_id"), cap = 10)
      .orderBy(col("source"), col("doc_id"))

  val sourceCapSql: String =
    """SELECT source, doc_id FROM (
      |  SELECT source, doc_id,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |  FROM documents)
      |WHERE rn <= 10 ORDER BY source, doc_id""".stripMargin

  /** q141 — FILTER-FUNNEL ABLATION: the report a curation pipeline owes
    * its operators before anyone trusts a survivor count. For each
    * filter in the chain (length band → min words → digit-ratio cap):
    * how many docs fail it AT ALL, how many fail ONLY it (its unique
    * kills — remove this filter and exactly these docs come back: the
    * ablation stat), and how many docs survive the chain UP TO it
    * (the sequential funnel). All three views come from the SAME three
    * boolean flags, so the report is internally consistent by
    * construction and every number is an exact integer.
    *
    * Shape: ONE corpus scan computes the flags, one aggregate reduces
    * them to a single row of sums (map-side partial), and the 3-row
    * report is a generated explode of that row — no per-filter rescans
    * (the oracle may rescan; the engine must not, the q129 discipline). */
  def filterFunnel(s: SparkSession, d: String): DataFrame = {
    val flagged = Tables.documents(s, d).select(
      (col("n_chars") >= 100 && col("n_chars") <= 500).as("len_ok"),
      (size(TextAnalysis.words(col("text"))) >= 30).as("words_ok"),
      (length(regexp_replace(col("text"), "[^0-9]", "")) * 10 <
        col("n_chars")).as("digit_ok"))
    def cnt(c: Column) = sum(c.cast("long"))
    val r = flagged.agg(
      count(lit(1)).as("n_docs"),
      cnt(!col("len_ok")).as("f_len"),
      cnt(!col("words_ok")).as("f_words"),
      cnt(!col("digit_ok")).as("f_digit"),
      cnt(!col("len_ok") && col("words_ok") && col("digit_ok")).as("u_len"),
      cnt(col("len_ok") && !col("words_ok") && col("digit_ok")).as("u_words"),
      cnt(col("len_ok") && col("words_ok") && !col("digit_ok")).as("u_digit"),
      cnt(col("len_ok")).as("s1"),
      cnt(col("len_ok") && col("words_ok")).as("s2"),
      cnt(col("len_ok") && col("words_ok") && col("digit_ok")).as("s3"))
    r.select(explode(array(
        struct(lit(1).as("stage"), lit("len_band").as("filter"),
          col("f_len").as("n_fail"), col("u_len").as("n_unique_fail"),
          col("s1").as("n_survivors_after")),
        struct(lit(2).as("stage"), lit("min_words").as("filter"),
          col("f_words").as("n_fail"), col("u_words").as("n_unique_fail"),
          col("s2").as("n_survivors_after")),
        struct(lit(3).as("stage"), lit("digit_ratio").as("filter"),
          col("f_digit").as("n_fail"), col("u_digit").as("n_unique_fail"),
          col("s3").as("n_survivors_after")))).as("row"),
      col("n_docs"))
      .select(col("row.stage").as("stage"), col("row.filter").as("filter"),
        col("n_docs"), col("row.n_fail").as("n_fail"),
        col("row.n_unique_fail").as("n_unique_fail"),
        col("row.n_survivors_after").as("n_survivors_after"))
      .orderBy(col("stage"))
  }

  /** Oracle for [[filterFunnel]]: the same flags and roll-ups in DuckDB. */
  val filterFunnelSql: String =
    """WITH f AS (
      |  SELECT
      |    n_chars >= 100 AND n_chars <= 500 AS len_ok,
      |    len(regexp_extract_all(text, '[a-z0-9]+')) >= 30 AS words_ok,
      |    length(regexp_replace(text, '[^0-9]', '', 'g')) * 10 < n_chars
      |      AS digit_ok
      |  FROM documents),
      | agg AS (
      |  SELECT count(*) AS n_docs,
      |    CAST(sum(CASE WHEN NOT len_ok THEN 1 ELSE 0 END) AS BIGINT) AS f_len,
      |    CAST(sum(CASE WHEN NOT words_ok THEN 1 ELSE 0 END) AS BIGINT) AS f_words,
      |    CAST(sum(CASE WHEN NOT digit_ok THEN 1 ELSE 0 END) AS BIGINT) AS f_digit,
      |    CAST(sum(CASE WHEN NOT len_ok AND words_ok AND digit_ok THEN 1 ELSE 0 END) AS BIGINT) AS u_len,
      |    CAST(sum(CASE WHEN len_ok AND NOT words_ok AND digit_ok THEN 1 ELSE 0 END) AS BIGINT) AS u_words,
      |    CAST(sum(CASE WHEN len_ok AND words_ok AND NOT digit_ok THEN 1 ELSE 0 END) AS BIGINT) AS u_digit,
      |    CAST(sum(CASE WHEN len_ok THEN 1 ELSE 0 END) AS BIGINT) AS s1,
      |    CAST(sum(CASE WHEN len_ok AND words_ok THEN 1 ELSE 0 END) AS BIGINT) AS s2,
      |    CAST(sum(CASE WHEN len_ok AND words_ok AND digit_ok THEN 1 ELSE 0 END) AS BIGINT) AS s3
      |  FROM f)
      |SELECT 1 AS stage, 'len_band' AS filter, n_docs, f_len AS n_fail,
      |  u_len AS n_unique_fail, s1 AS n_survivors_after FROM agg
      |UNION ALL
      |SELECT 2, 'min_words', n_docs, f_words, u_words, s2 FROM agg
      |UNION ALL
      |SELECT 3, 'digit_ratio', n_docs, f_digit, u_digit, s3 FROM agg
      |ORDER BY stage""".stripMargin

  // ---------------------------------------------------------------------
  // q146: filter kill-rate drift between corpus snapshots
  // ---------------------------------------------------------------------

  /** q146 — FILTER KILL-RATE DRIFT: q141's funnel flags evaluated on
    * two corpus snapshots (A = id%10≠0 "yesterday", B = id%10≠1
    * "today", the q139/q142/q143 convention) and compared per filter
    * as integer-ppm fail rates + |Δppm| — the alarm a production
    * pipeline sets on its quality gates: a crawl-source or extraction
    * change shifts a filter's kill rate long before anyone reads the
    * output, and the per-filter attribution says WHICH gate moved.
    *
    * Shape: ONE corpus scan computes the three flags; snapshot
    * membership is a conditional aggregate over the same rows (no
    * second scan — the q143 discipline); the 3-row report is a
    * generated explode. All integer math (`div`, positive operands),
    * hash-exact. */
  def filterFunnelDrift(s: SparkSession, d: String): DataFrame = {
    val inA = col("doc_id") % 10 =!= 0
    val inB = col("doc_id") % 10 =!= 1
    val flagged = Tables.documents(s, d).select(col("doc_id"),
      (col("n_chars") >= 100 && col("n_chars") <= 500).as("len_ok"),
      (size(TextAnalysis.words(col("text"))) >= 30).as("words_ok"),
      (length(regexp_replace(col("text"), "[^0-9]", "")) * 10 <
        col("n_chars")).as("digit_ok"))
    def cA(c: Column) = sum(when(inA && c, 1L).otherwise(0L))
    def cB(c: Column) = sum(when(inB && c, 1L).otherwise(0L))
    val r = flagged.agg(
      sum(when(inA, 1L).otherwise(0L)).as("n_a"),
      sum(when(inB, 1L).otherwise(0L)).as("n_b"),
      cA(!col("len_ok")).as("fa_len"), cB(!col("len_ok")).as("fb_len"),
      cA(!col("words_ok")).as("fa_words"), cB(!col("words_ok")).as("fb_words"),
      cA(!col("digit_ok")).as("fa_digit"), cB(!col("digit_ok")).as("fb_digit"))
    r.select(explode(array(
        struct(lit(1).as("stage"), lit("len_band").as("filter"),
          col("fa_len").as("fa"), col("fb_len").as("fb")),
        struct(lit(2).as("stage"), lit("min_words").as("filter"),
          col("fa_words").as("fa"), col("fb_words").as("fb")),
        struct(lit(3).as("stage"), lit("digit_ratio").as("filter"),
          col("fa_digit").as("fa"), col("fb_digit").as("fb")))).as("row"),
        col("n_a"), col("n_b"))
      .select(col("row.stage").as("stage"), col("row.filter").as("filter"),
        col("n_a"), col("n_b"),
        col("row.fa").as("n_fail_a"), col("row.fb").as("n_fail_b"))
      .withColumn("fail_a_ppm", expr("(1000000 * n_fail_a) div n_a"))
      .withColumn("fail_b_ppm", expr("(1000000 * n_fail_b) div n_b"))
      .withColumn("abs_delta_ppm",
        abs(col("fail_a_ppm") - col("fail_b_ppm")))
      .orderBy(col("stage"))
  }

  /** Oracle for [[filterFunnelDrift]]: same flags, same conditional
    * snapshot sums, ppm by `//`. */
  val filterFunnelDriftSql: String =
    """WITH f AS (
      |  SELECT doc_id,
      |    n_chars >= 100 AND n_chars <= 500 AS len_ok,
      |    len(regexp_extract_all(text, '[a-z0-9]+')) >= 30 AS words_ok,
      |    length(regexp_replace(text, '[^0-9]', '', 'g')) * 10 < n_chars
      |      AS digit_ok
      |  FROM documents),
      | agg AS (
      |  SELECT
      |    CAST(sum(CASE WHEN doc_id % 10 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN doc_id % 10 <> 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |    CAST(sum(CASE WHEN doc_id % 10 <> 0 AND NOT len_ok THEN 1 ELSE 0 END) AS BIGINT) AS fa_len,
      |    CAST(sum(CASE WHEN doc_id % 10 <> 1 AND NOT len_ok THEN 1 ELSE 0 END) AS BIGINT) AS fb_len,
      |    CAST(sum(CASE WHEN doc_id % 10 <> 0 AND NOT words_ok THEN 1 ELSE 0 END) AS BIGINT) AS fa_words,
      |    CAST(sum(CASE WHEN doc_id % 10 <> 1 AND NOT words_ok THEN 1 ELSE 0 END) AS BIGINT) AS fb_words,
      |    CAST(sum(CASE WHEN doc_id % 10 <> 0 AND NOT digit_ok THEN 1 ELSE 0 END) AS BIGINT) AS fa_digit,
      |    CAST(sum(CASE WHEN doc_id % 10 <> 1 AND NOT digit_ok THEN 1 ELSE 0 END) AS BIGINT) AS fb_digit
      |  FROM f),
      | rows3 AS (
      |  SELECT 1 AS stage, 'len_band' AS filter, n_a, n_b,
      |    fa_len AS n_fail_a, fb_len AS n_fail_b FROM agg
      |  UNION ALL
      |  SELECT 2, 'min_words', n_a, n_b, fa_words, fb_words FROM agg
      |  UNION ALL
      |  SELECT 3, 'digit_ratio', n_a, n_b, fa_digit, fb_digit FROM agg)
      |SELECT stage, filter, n_a, n_b, n_fail_a, n_fail_b,
      |  CAST((1000000 * n_fail_a) // n_a AS BIGINT) AS fail_a_ppm,
      |  CAST((1000000 * n_fail_b) // n_b AS BIGINT) AS fail_b_ppm,
      |  CAST(abs((1000000 * n_fail_a) // n_a - (1000000 * n_fail_b) // n_b)
      |    AS BIGINT) AS abs_delta_ppm
      |FROM rows3 ORDER BY stage""".stripMargin

  // ---------------------------------------------------------------------
  // q155: apply repetition cut lists (the splice step)
  // ---------------------------------------------------------------------

  /** q155 — SPAN APPLY: the APPLY step of the redact-don't-drop family
    * (r12 verdict item 5). q147 and q154 emit token-positional CUT
    * LISTS — spans of contamination / repeated boilerplate — but until
    * now nothing consumed them; this operator performs the splice:
    * re-tokenize each document exactly as the miner did, drop every
    * position covered by a span, and re-join the survivors — emitting
    * (doc_id, cleaned_text, n_tokens_removed, n_words). Clean docs pass
    * through with zero removed; a fully-covered doc emits an empty
    * string (kept, auditable — dropping it would silently change corpus
    * counts). The gate face applies q154's own intra-doc repetition
    * spans, so the span algebra provably round-trips: mine → splice →
    * the flagged material is gone.
    *
    * Scale: one words-explode per doc (narrow, the q154 cost model), a
    * per-doc-keyed LEFT ANTI range join against the span list (spans
    * per doc are few and bounded — the equi key is doc_id, so this is
    * a hash join, never a cartesian), and a per-doc sort_array over the
    * survivors — every stage is hash-partitioned by doc_id, nothing
    * corpus-wide, the shape that survives any corpus size. */
  def applyRepetitionSpans(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    applySpansOn(docs, Dedup.repSpansOf(Dedup.repMarked(docs)))
  }

  /** The splice over any (doc_id, text) frame and (doc_id, s0, s1) span
    * list — fixture-testable; spans may overlap (covered-ness is the
    * predicate, not span arithmetic).
    *
    * Shape (r13, measured): the first cut exploded every word, LEFT
    * ANTI range-joined positions against spans, and re-assembled via
    * `collect_list` + `array_sort` per doc — at sf10 (600k docs) the
    * 120M-row explode shuffle plus the aggregate's sort-based fallback
    * (doc count ≫ the 65k hash-group threshold) measured 77 s warm,
    * 25× on 10× data. This shape never explodes: the span list
    * aggregates to a per-doc ARRAY (few rows per doc — the only
    * shuffle, span-sized not word-sized), and the splice happens
    * IN-ROW with index-aware `filter` + `exists` over the words array.
    * The HOFs are interpreted, but words×spans per doc is small and
    * the join is 1:1 (no fan-out — the q143 HOF-collapse pitfall needs
    * a join multiplying lambda evaluations; there is none here). */
  private[graft] def applySpansOn(docs: DataFrame, spans: DataFrame): DataFrame = {
    import graft.ops.TextAnalysis.words
    val spanArr = spans.groupBy(col("doc_id"))
      .agg(collect_list(struct(col("s0"), col("s1"))).as("sps"))
    docs
      .select(col("doc_id"), words(col("text")).as("warr"))
      .join(spanArr, Seq("doc_id"), "left")
      .select(col("doc_id"), col("warr"),
        coalesce(col("sps"), array()).as("sps"))
      .select(col("doc_id"),
        filter(col("warr"), (w, i) =>
          !exists(col("sps"), sp =>
            i.cast("long") >= sp.getField("s0") &&
              i.cast("long") <= sp.getField("s1"))).as("kept"),
        size(col("warr")).cast("long").as("n_words"))
      .select(col("doc_id"),
        array_join(col("kept"), " ").as("cleaned_text"),
        (col("n_words") - size(col("kept")).cast("long"))
          .as("n_tokens_removed"),
        col("n_words"))
      .orderBy(col("doc_id"))
  }

  /** q158 — DECONTAMINATION SPLICE: [[applyRepetitionSpans]]'s twin for
    * the OTHER cut list. q147 mines WHERE each training doc overlaps the
    * benchmark slice; this excises exactly those spans from the training
    * docs (doc_id % 50 ≠ 0 — the q147 split), emitting the same
    * (doc_id, cleaned_text, n_tokens_removed, n_words) shape. Together
    * with q155 the span algebra now has two independent producers
    * (repetition, contamination) feeding ONE splice definition
    * ([[applySpansOn]]) — the redact-don't-drop pipeline end to end:
    * a contaminated doc keeps its clean prose and loses only the
    * benchmark overlap, instead of q69's drop-the-document verdict.
    *
    * Scale: the q147 miner's cost (benchmark broadcast into one train
    * scan) plus the q155 splice cost (per-doc hash-partitioned ops) —
    * nothing new shuffles corpus-wide. */
  def applyContaminationSpans(s: SparkSession, d: String): DataFrame = {
    val train = Tables.documents(s, d).where(col("doc_id") % 50 =!= 0)
      .select(col("doc_id"), col("text"))
    applySpansOn(train, Dedup.repSpansOf(Dedup.contaminationHits(s, d)))
  }

  /** Oracle for [[applyContaminationSpans]]: the q147 span CTEs
    * verbatim ([[Dedup.contamSpanCtesSql]]) + the q155 splice. */
  def applyContaminationSpansSql: String =
    s"""WITH ${Dedup.contamSpanCtesSql},
      | nw AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS n_words
      |  FROM documents WHERE doc_id % 50 <> 0),
      | kept AS (
      |  SELECT wp.doc_id, wp.pos, wp.word FROM wp
      |  WHERE NOT EXISTS (SELECT 1 FROM spans sp
      |    WHERE sp.doc_id = wp.doc_id AND wp.pos BETWEEN sp.s0 AND sp.s1)),
      | cl AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
      |    string_agg(word, ' ' ORDER BY pos) AS cleaned_text
      |  FROM kept GROUP BY doc_id)
      |SELECT nw.doc_id, coalesce(cl.cleaned_text, '') AS cleaned_text,
      |  CAST(nw.n_words - coalesce(cl.n_kept, 0) AS BIGINT) AS n_tokens_removed,
      |  nw.n_words
      |FROM nw LEFT JOIN cl USING (doc_id)
      |ORDER BY nw.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q163: corpus accounting by source (the governance reconciliation)
  // ---------------------------------------------------------------------

  /** q163 — CORPUS ACCOUNTING: per source, the counts a data-governance
    * review reconciles — raw documents, exact-dedup survivors (q30's
    * min-doc_id-per-fingerprint keep rule), and quality-filter
    * survivors (q141's three rules, conjoined), with integer-ppm drop
    * rates per stage. This is the "where did my documents go" ledger a
    * 100 TB pipeline publishes with every corpus release: a source
    * whose dedup drop jumps is being scraped twice; one whose filter
    * drop jumps changed upstream. A source can legitimately show
    * n_unique = 0 (every doc a dup of an earlier doc in ANOTHER
    * source) — its filter-drop ppm is NULL then, the q122 empty-
    * denominator convention.
    *
    * Scale: one fingerprint group-by (the q30 shuffle), one id join
    * back, one per-source aggregate — all map-side combined; the
    * ledger is |sources|-bounded. */
  def corpusAccounting(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val keep = docs.groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), lit(1L).as("is_keeper"))
    docs
      .join(keep, Seq("doc_id"), "left")
      .select(col("source"),
        coalesce(col("is_keeper"), lit(0L)).as("is_keeper"),
        ((col("n_chars") >= 100 && col("n_chars") <= 500) &&
          (size(TextAnalysis.words(col("text"))) >= 30) &&
          (length(regexp_replace(col("text"), "[^0-9]", "")) * 10 <
            col("n_chars"))).as("passes"))
      .groupBy(col("source")).agg(
        count(lit(1)).as("n_raw"),
        sum(col("is_keeper")).as("n_unique"),
        sum(when(col("is_keeper") === 1L && col("passes"), 1L)
          .otherwise(0L)).as("n_final"))
      .select(col("source"), col("n_raw"), col("n_unique"), col("n_final"),
        expr("(1000000 * (n_raw - n_unique)) div n_raw").as("dedup_drop_ppm"),
        when(col("n_unique") > 0,
          expr("(1000000 * (n_unique - n_final)) div n_unique"))
          .as("filter_drop_ppm"))
      .orderBy(col("source"))
  }

  /** Oracle for [[corpusAccounting]]: fingerprint keepers + the q141
    * flag conjunction + per-source integer roll-up. */
  val corpusAccountingSql: String =
    """WITH keep AS (
      |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
      | f AS (
      |  SELECT d.source,
      |    CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_keeper,
      |    (d.n_chars >= 100 AND d.n_chars <= 500
      |      AND len(regexp_extract_all(d.text, '[a-z0-9]+')) >= 30
      |      AND length(regexp_replace(d.text, '[^0-9]', '', 'g')) * 10
      |        < d.n_chars) AS passes
      |  FROM documents d LEFT JOIN keep k ON d.doc_id = k.doc_id),
      | agg AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_raw,
      |    CAST(sum(is_keeper) AS BIGINT) AS n_unique,
      |    CAST(sum(CASE WHEN is_keeper = 1 AND passes THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_final
      |  FROM f GROUP BY source)
      |SELECT source, n_raw, n_unique, n_final,
      |  CAST((1000000 * (n_raw - n_unique)) // n_raw AS BIGINT)
      |    AS dedup_drop_ppm,
      |  CASE WHEN n_unique > 0
      |    THEN CAST((1000000 * (n_unique - n_final)) // n_unique AS BIGINT)
      |    ELSE NULL END AS filter_drop_ppm
      |FROM agg ORDER BY source""".stripMargin

  /** Oracle for [[applyRepetitionSpans]]: the q154 span CTEs verbatim
    * ([[Dedup.repSpanCtesSql]] — one definition, two oracles), then the
    * anti-range splice and an ordered string_agg re-join. */
  def applyRepetitionSpansSql: String =
    s"""WITH ${Dedup.repSpanCtesSql},
      | kept AS (
      |  SELECT wp.doc_id, wp.pos, wp.word FROM wp
      |  WHERE NOT EXISTS (SELECT 1 FROM spans sp
      |    WHERE sp.doc_id = wp.doc_id AND wp.pos BETWEEN sp.s0 AND sp.s1)),
      | cl AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
      |    string_agg(word, ' ' ORDER BY pos) AS cleaned_text
      |  FROM kept GROUP BY doc_id)
      |SELECT nw.doc_id, coalesce(cl.cleaned_text, '') AS cleaned_text,
      |  CAST(nw.n_words - coalesce(cl.n_kept, 0) AS BIGINT) AS n_tokens_removed,
      |  nw.n_words
      |FROM nw LEFT JOIN cl USING (doc_id)
      |ORDER BY nw.doc_id""".stripMargin

  /** q181 — TOKEN-BUDGET CURATION ("the best B tokens per source"): the
    * selection step a release pipeline runs when the training recipe
    * allocates a fixed token budget per source (q84 decides the quotas
    * at corpus level; this enforces a budget with QUALITY, not a coin
    * flip): per source, keep the highest-quality docs (q117's integer
    * stopword-bp score — one score definition across the quality
    * family) whose cumulative tokens still fit the budget, at score
    * granularity — the keep set is `score_bp ≥ cut` where `cut` is the
    * smallest score whose score-and-above token mass fits. Whole score
    * groups are admitted or not, so the cut is deterministic with no
    * within-group ordering; a source whose best score group alone
    * blows the budget keeps nothing (cut NULL — the honest answer, a
    * real pipeline then splits by a secondary key). The ledger row per
    * source: totals, cut, kept docs/tokens, budget utilization ppm.
    *
    * Scale: the score domain is bounded ([0, 10000]), so the decision
    * runs on a per-(source, score) HISTOGRAM — map-side combined,
    * ≤ 10k rows per source; the cumulative window orders that bounded
    * table, never the corpus (q117's discipline). One corpus scan, one
    * bounded shuffle, |sources| output rows. */
  def tokenBudgetSelect(s: SparkSession, d: String,
      budgetTokens: Long = 800L): DataFrame =
    tokenBudgetSelectOn(TextAnalysis.sourceQualityFrame(s, d), budgetTokens)

  /** Core of [[tokenBudgetSelect]] over any (source, nt, score_bp)
    * frame — split out so specs can drive hand fixtures through the
    * exact production path. */
  private[graft] def tokenBudgetSelectOn(scored: DataFrame,
      budgetTokens: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = scored.groupBy(col("source"), col("score_bp"))
      .agg(count(lit(1)).as("c"), sum(col("nt")).as("t"))
    // cumulative token mass from the TOP score down; (source, score_bp)
    // is unique in hist so ROWS ≡ RANGE
    val wDesc = Window.partitionBy(col("source")).orderBy(col("score_bp").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cuts = hist.withColumn("cum_t", sum(col("t")).over(wDesc))
      .where(col("cum_t") <= budgetTokens)
      .groupBy(col("source")).agg(min(col("score_bp")).as("cut_bp"))
    val kept = hist.join(cuts, Seq("source"))
      .where(col("score_bp") >= col("cut_bp"))
      .groupBy(col("source"), col("cut_bp"))
      .agg(sum(col("c")).as("n_kept"), sum(col("t")).as("tokens_kept"))
    val totals = scored.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
    totals.join(kept, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("cut_bp"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("tokens_kept"), lit(0L)).as("tokens_kept"),
        lit(budgetTokens).as("budget"),
        expr(s"(1000000 * coalesce(tokens_kept, 0)) div ${budgetTokens}L")
          .as("util_ppm"))
      .orderBy(col("source"))
  }

  /** Oracle for [[tokenBudgetSelect]] (budget 800): the same bounded
    * histogram + top-down cumulative formulation in DuckDB. */
  val tokenBudgetSelectSql: String =
    s"""WITH sc AS (${TextAnalysis.sourceQualityFrameSql}),
       | hist AS (
       |  SELECT source, score_bp, CAST(count(*) AS BIGINT) AS c,
       |    CAST(sum(nt) AS BIGINT) AS t
       |  FROM sc GROUP BY source, score_bp),
       | cum AS (
       |  SELECT source, score_bp, c, t,
       |    CAST(sum(t) OVER (PARTITION BY source ORDER BY score_bp DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_t
       |  FROM hist),
       | cuts AS (
       |  SELECT source, min(score_bp) AS cut_bp FROM cum
       |  WHERE cum_t <= 800 GROUP BY source),
       | kept AS (
       |  SELECT h.source, k.cut_bp, CAST(sum(h.c) AS BIGINT) AS n_kept,
       |    CAST(sum(h.t) AS BIGINT) AS tokens_kept
       |  FROM hist h JOIN cuts k ON h.source = k.source
       |  WHERE h.score_bp >= k.cut_bp GROUP BY h.source, k.cut_bp),
       | totals AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(nt) AS BIGINT) AS n_tokens
       |  FROM sc GROUP BY source)
       |SELECT t.source, t.n_docs, t.n_tokens, k.cut_bp,
       |  CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
       |  CAST(coalesce(k.tokens_kept, 0) AS BIGINT) AS tokens_kept,
       |  CAST(800 AS BIGINT) AS budget,
       |  CAST((1000000 * coalesce(k.tokens_kept, 0)) // 800 AS BIGINT)
       |    AS util_ppm
       |FROM totals t LEFT JOIN kept k ON t.source = k.source
       |ORDER BY t.source""".stripMargin

  /** q185 — MIXTURE ALLOCATION APPLY: q84 DECIDES how many docs each
    * (source, lang) cell contributes to the training mixture (sublinear
    * √n weights + largest remainder); nothing executed it. This is the
    * apply: per cell, keep exactly `min(alloc, n_cell)` documents by
    * smallest portable hash — deterministic (same rows on any cluster,
    * any partitioning), auditable (the oracle replays membership
    * row-for-row), and UNBIASED within the cell (md5 order is
    * independent of doc content). Completes the plan→apply pairing the
    * span family set (q154→q155, q147→q158, q152→q167): every planner
    * in the suite now has its executor.
    *
    * Scale: rides [[Sampling.reservoirSampleQuota]] — the two-phase
    * bucket-prefix form of per-stratum exact-k, so the corpus is
    * scanned twice but never shuffled, and the only sort ranks ~quota
    * survivors per cell; the quota table is |cells|-bounded and
    * broadcasts. The ORACLE is the naive rank-window formulation over
    * q84's allocation CTE — a different algorithm, so the gate hash
    * proves the two-phase selection ≡ the global-rank definition (the
    * q86/q93 convention). Budget 300 at gate scale so most cells
    * genuinely subsample (alloc 3 of ~5). */
  def mixtureApply(s: SparkSession, d: String,
      budget: Long = 300L): DataFrame = {
    val docs = Tables.documents(s, d)
    val quotas = mixtureAllocation(docs, Seq(col("source"), col("lang")), budget)
      .select(col("source"), col("lang"), col("alloc").as("quota"))
    Sampling.reservoirSampleQuota(docs, Seq("source", "lang"),
      key = col("doc_id").cast("string"), tie = col("doc_id"), quotas = quotas)
      .select(col("doc_id"), col("source"), col("lang"), col("hv"))
      .orderBy(col("doc_id"))
  }

  /** Oracle for [[mixtureApply]] (budget 300): q84's allocation CTEs at
    * this budget + the NAIVE per-cell rank window. */
  val mixtureApplySql: String =
    """WITH n AS (
      |  SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs
      |  FROM documents GROUP BY 1, 2),
      | w AS (
      |  SELECT source, lang, n_docs,
      |    CAST(floor(sqrt(n_docs)) AS BIGINT) AS w FROM n),
      | b AS (SELECT *, CAST(sum(w) OVER () AS BIGINT) AS tot FROM w),
      | a AS (
      |  SELECT source, lang, n_docs, w,
      |    (300 * w) // tot AS base, (300 * w) % tot AS rem,
      |    CAST(300 - sum((300 * w) // tot) OVER () AS BIGINT) AS leftover
      |  FROM b),
      | alloc AS (
      |  SELECT source, lang,
      |    base + CASE WHEN CAST(row_number() OVER
      |        (ORDER BY rem DESC, source ASC, lang ASC) AS BIGINT) <= leftover
      |      THEN 1 ELSE 0 END AS quota
      |  FROM a),
      | h AS (
      |  SELECT d.doc_id, d.source, d.lang, al.quota,
      |    CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)
      |      AS BIGINT) AS hv
      |  FROM documents d JOIN alloc al
      |    ON d.source = al.source AND d.lang = al.lang),
      | ranked AS (
      |  SELECT doc_id, source, lang, hv,
      |    row_number() OVER (PARTITION BY source, lang
      |      ORDER BY hv, doc_id) AS rk, quota
      |  FROM h)
      |SELECT doc_id, source, lang, hv FROM ranked WHERE rk <= quota
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q193: temperature-scaled token mixture + repetition factor
  // ---------------------------------------------------------------------

  /** Temperature-scaled source mixture over TOKENS with a repetition
    * audit — the "how many epochs of each source does one pass of the
    * mixture cost" table every LLM data card publishes. q84 allocates a
    * DOC budget across cells at α = 0.5; training mixtures are budgeted
    * in TOKENS and reported with each up-weighted source's repetition
    * factor (small high-quality sources get repeated; past a few epochs
    * repetition stops helping, so the factor is the audit column).
    *
    * Per source: doc/token mass; sampling weight
    * w = floor(sqrt(sqrt(n_tokens))) — α = 0.25, the strong-upweighting
    * end of the published α ∈ [0.2, 0.7] range, composed from two
    * IEEE-exact sqrts so the weight replays bit-for-bit in any engine
    * (the q84 rule: no pow() last-ulp drift can reach a compared
    * column); the largest-remainder integer allocation of a 50k-token
    * budget; and rep_ppm = alloc·10⁶ div n_tokens — the repetition
    * factor in exact integer ppm (> 10⁶ names the sources the mixture
    * over-epochs).
    *
    * Scale: one narrow scan into a map-side-combined |sources|-row
    * aggregate; every window below runs on that bounded table (the q84
    * argument — corpus-size-independent row count). */
  def temperatureMixture(s: SparkSession, d: String,
      budget: Long = 50000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val all = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val perSource = Tables.documents(s, d)
      .select(col("source"),
        size(regexp_extract_all(col("text"), lit(TextAnalysis.tokenPat),
          lit(0))).cast("long").as("t"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("n_tokens"))
      .withColumn("w", floor(sqrt(sqrt(col("n_tokens")))).cast("long"))
      // greatest(_, 1): on a degenerate corpus where every source has 0
      // tokens (w = 0 everywhere) Spark's div would yield NULL rows while
      // DuckDB's `// 0` errors — the engines must agree on the empty case
      // (the q180 rule; mirrors the rep_ppm guard below). tot ≥ 1 never
      // fires on a non-degenerate corpus, so gate hashes are unchanged.
      .withColumn("tot", greatest(sum(col("w")).over(all), lit(1L)))
    perSource
      .withColumn("base", expr(s"(${budget}L * w) div tot"))
      .withColumn("rem", (lit(budget) * col("w")) % col("tot"))
      .withColumn("leftover", lit(budget) - sum(col("base")).over(all))
      .withColumn("rn", row_number().over(
        Window.partitionBy().orderBy(col("rem").desc, col("source").asc)))
      .withColumn("alloc",
        col("base") + when(col("rn") <= col("leftover"), 1L).otherwise(0L))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("w"),
        col("alloc"),
        expr("(alloc * 1000000L) div greatest(n_tokens, 1L)").as("rep_ppm"))
      .orderBy(col("source"))
  }

  /** Oracle for [[temperatureMixture]]: per-source token mass, the
    * double-sqrt weight, largest-remainder rounding, repetition ppm. */
  val temperatureMixtureSql: String =
    """WITH t AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(sum(len(regexp_extract_all(text,
      |      '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source),
      | w AS (
      |  SELECT source, n_docs, n_tokens,
      |    CAST(floor(sqrt(sqrt(n_tokens))) AS BIGINT) AS w FROM t),
      | b AS (SELECT *,
      |    greatest(CAST(sum(w) OVER () AS BIGINT), 1) AS tot FROM w),
      | a AS (
      |  SELECT source, n_docs, n_tokens, w,
      |    (50000 * w) // tot AS base, (50000 * w) % tot AS rem,
      |    CAST(50000 - sum((50000 * w) // tot) OVER () AS BIGINT)
      |      AS leftover
      |  FROM b),
      | al AS (
      |  SELECT source, n_docs, n_tokens, w,
      |    CAST(base + CASE WHEN CAST(row_number() OVER
      |        (ORDER BY rem DESC, source ASC) AS BIGINT) <= leftover
      |      THEN 1 ELSE 0 END AS BIGINT) AS alloc
      |  FROM a)
      |SELECT source, n_docs, n_tokens, w, alloc,
      |  CAST((alloc * 1000000) // greatest(n_tokens, 1) AS BIGINT)
      |    AS rep_ppm
      |FROM al ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // q196: HTML/boilerplate strip + link-density keep flag
  // ---------------------------------------------------------------------

  /** Tag patterns shared by the Spark plan and (sans possessive
    * quantifiers, the q82 RE2 rule) the DuckDB oracle. Script elements
    * drop WITH their content (code is never prose); the content class
    * `[^<]*` keeps the pattern automaton-simple and identical across
    * engines — a script body containing '<' would simply leave its tail
    * to the generic tag strip, same result both sides. */
  private val ScriptPat = "<script[^>]*+>[^<]*+</script>"
  private val TagPat = "<[^>]*+>"
  private val AnchorPat = "<a [^>]*+>([^<]*+)</a>"
  /** RE2-safe twins for the oracle (no possessive quantifiers). */
  private val ScriptPatRe2 = "<script[^>]*>[^<]*</script>"
  private val TagPatRe2 = "<[^>]*>"
  private val AnchorPatRe2 = "<a [^>]*>([^<]*)</a>"

  /** keep threshold: a page whose anchor text is ≥ 1/3 of its stripped
    * text is nav chrome, not prose (the CCNet/jusText-style link-density
    * rule, integer-exact as ppm). */
  val LinkDensityMaxPpm = 333333L

  /** q196 — HTML/BOILERPLATE STRIP + LINK-DENSITY FILTER: the cleaning
    * pass every crawl pipeline runs IN FRONT OF the dedup family (the
    * q170 scaladoc's own "nav chrome" motivation — shared header/footer
    * markup is the #1 source of fake near-duplicates). The corpus is
    * pre-cleaned text, so the face PLANTS deterministic HTML canaries
    * (the q157/q187 canary convention, negative ids disjoint from real
    * ones): for every doc_id % 10 = 0, (a) the doc wrapped in a real
    * page skeleton — head/title/script, a 3-link nav, the text in a
    * body paragraph, a footer link — which must come back KEPT with its
    * prose intact, and (b) a nav-chrome-only page of pure links, which
    * the link-density rule must DROP. Per doc: tag count, anchor-text
    * vs stripped-text chars, link density ppm, the keep flag, and the
    * md5 of the stripped text (the strip itself is hash-proven, not
    * just counted).
    *
    * Strip pipeline (regexp built-ins, codegen'd, zero shuffle):
    * script-with-content removal → anchor-text measurement on the raw
    * markup → every remaining tag → space → whitespace collapse → trim.
    * keep = link_ppm < [[LinkDensityMaxPpm]] AND nonempty stripped text.
    *
    * Scale: one narrow map over the corpus — no join, no agg, no
    * shuffle anywhere; the canary union adds one scan of the sampled
    * stratum. The 100 TB shape is exactly this plus a parquet sink. */
  def htmlStrip(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val sampled = docs.where(col("doc_id") % 10 === 0)
    val wrapped = sampled.select((-col("doc_id") - 10).as("doc_id"),
      concat(
        lit("<html><head><title>page</title><script>var x=1;</script>" +
          "</head><body><nav><a href=\"/\">Home</a> <a href=\"/a\">About" +
          "</a> <a href=\"/b\">Docs</a></nav><p>"),
        col("text"),
        lit("</p><footer><a href=\"/c\">Contact</a></footer></body></html>"))
        .as("text"))
    // -id-10 lands on ≡0 (mod 10), -id-15 on ≡5 — the two canary
    // families stay disjoint for every sampled id (plain -id-20 would
    // collide: wrapped(10) = navOnly(0) = -20)
    val navOnly = sampled.select((-col("doc_id") - 15).as("doc_id"),
      lit("<html><body><nav><a href=\"/\">Home</a> <a href=\"/a\">About" +
        "</a> <a href=\"/b\">Docs</a> <a href=\"/c\">Contact</a>" +
        "</nav></body></html>").as("text"))
    val aug = docs.unionAll(wrapped).unionAll(navOnly)
    val noScript = regexp_replace(col("text"), ScriptPat, " ")
    val anchors = regexp_extract_all(col("text"), lit(AnchorPat), lit(1))
    val stripped = trim(regexp_replace(
      regexp_replace(noScript, TagPat, " "),
      "[ \\t\\n\\r]+", " "))
    aug.select(
      col("doc_id"),
      regexp_count(col("text"), lit(TagPat)).cast("long").as("n_tags"),
      coalesce(aggregate(transform(anchors, a => length(a).cast("long")),
        lit(0L), (acc, x) => acc + x), lit(0L)).as("link_chars"),
      length(stripped).cast("long").as("text_chars"),
      stripped.as("strip"))
      .select(col("doc_id"), col("n_tags"), col("link_chars"),
        col("text_chars"),
        expr("(1000000 * link_chars) div greatest(text_chars, 1L)")
          .as("link_ppm"),
        md5(col("strip").cast("binary")).as("strip_md5"))
      .withColumn("kept",
        col("link_ppm") < LinkDensityMaxPpm && col("text_chars") > 0)
      .orderBy(col("doc_id"))
  }

  /** Oracle for [[htmlStrip]]: the same canary synthesis and the same
    * strip pipeline in RE2 syntax ('g' flag on every replace — DuckDB
    * defaults to first-match-only). */
  val htmlStripSql: String =
    s"""WITH sampled AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
      | aug AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT -doc_id - 10,
      |    '<html><head><title>page</title><script>var x=1;</script>' ||
      |    '</head><body><nav><a href="/">Home</a> <a href="/a">About' ||
      |    '</a> <a href="/b">Docs</a></nav><p>' || text ||
      |    '</p><footer><a href="/c">Contact</a></footer></body></html>'
      |  FROM sampled
      |  UNION ALL
      |  SELECT -doc_id - 15,
      |    '<html><body><nav><a href="/">Home</a> <a href="/a">About' ||
      |    '</a> <a href="/b">Docs</a> <a href="/c">Contact</a>' ||
      |    '</nav></body></html>'
      |  FROM sampled),
      | st AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(text, '$TagPatRe2')) AS BIGINT)
      |      AS n_tags,
      |    CAST(coalesce(list_sum(list_transform(
      |      regexp_extract_all(text, '$AnchorPatRe2', 1),
      |      a -> len(a))), 0) AS BIGINT) AS link_chars,
      |    trim(regexp_replace(regexp_replace(
      |      regexp_replace(text, '$ScriptPatRe2', ' ', 'g'),
      |      '$TagPatRe2', ' ', 'g'), '[ \\t\\n\\r]+', ' ', 'g')) AS strip
      |  FROM aug)
      |SELECT doc_id, n_tags, link_chars,
      |  CAST(len(strip) AS BIGINT) AS text_chars,
      |  CAST((1000000 * link_chars) // greatest(len(strip), 1) AS BIGINT)
      |    AS link_ppm,
      |  md5(strip) AS strip_md5,
      |  ((1000000 * link_chars) // greatest(len(strip), 1)
      |    < $LinkDensityMaxPpm AND len(strip) > 0) AS kept
      |FROM st ORDER BY doc_id""".stripMargin
}
