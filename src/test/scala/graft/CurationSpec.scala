package graft

import graft.ops.Curation
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the curation suite (q81-q85): chunk coverage/overlap
  * invariants, PII edge cases, repetition arithmetic, largest-remainder
  * allocation, and the Morton bijection + locality property. The gate
  * faces are DuckDB-hash-checked; these cover the semantics and edges the
  * oracle data never exercises. */
class CurationSpec extends AnyFunSuite with SparkFixture {

  test("docChunks: coverage, overlap, short-tail, and single-short-doc invariants") {
    val s = spark
    import s.implicits._
    // 300 tokens → chunks at 0,96,192,288: lens 128,128,108,12
    val doc300 = (0 until 300).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, doc300), (2L, "one two"), (3L, "")).toDF("doc_id", "text")
    val got = Curation.docChunks(df, col("text"))
      .select("doc_id", "chunk_id", "start_tok", "n_tok")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    // doc 3 (no tokens) emits nothing
    assert(!got.exists(_._1 == 3L))
    // doc 2: one chunk, the whole doc
    assert(got.filter(_._1 == 2L).toSeq == Seq((2L, 0L, 0L, 2L)))
    val d1 = got.filter(_._1 == 1L).toSeq
    assert(d1 == Seq((1L, 0L, 0L, 128L), (1L, 1L, 96L, 128L),
      (1L, 2L, 192L, 108L), (1L, 3L, 288L, 12L)))
    // invariants: starts stride by 96; consecutive chunks overlap by 32
    // (or the tail, if shorter); union covers [0, 300) with no gap
    d1.sliding(2).foreach { case Seq(a, b) =>
      assert(b._3 == a._3 + 96)
      assert(a._3 + a._4 >= b._3) // no gap
    }
    assert(d1.map(c => c._3 + c._4).max == 300L)
  }

  test("docChunks: chunk_md5 is the md5 of the actual token slice") {
    val s = spark
    import s.implicits._
    val toks = (0 until 130).map(i => s"t$i")
    val df = Seq((7L, toks.mkString(" "))).toDF("doc_id", "text")
    val got = Curation.docChunks(df, col("text"))
      .select("chunk_id", "chunk_md5").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(x.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    assert(got(0L) == md5hex(toks.take(128).mkString(" ")))
    assert(got(1L) == md5hex(toks.slice(96, 130).mkString(" ")))
  }

  test("chunkDedup: shared chunks survive only in the smallest (doc, chunk); counts exact") {
    val s = spark
    import s.implicits._
    // 96 tokens per stride; build docs from repeated 96-token blocks so
    // chunk boundaries align with block boundaries. Block A appears in
    // docs 1, 2, and 5 (twice in doc 5 at different positions is
    // impossible with aligned strides and distinct blocks, so repeat A
    // as consecutive strides instead).
    def block(tag: String): String = (0 until 96).map(i => s"$tag$i").mkString(" ")
    val a = block("a"); val b = block("b"); val c = block("c")
    val df = Seq(
      (1L, s"$a $b"),       // chunks: [a+b(32)], [b] — chunk0 covers a + 32 of b
      (2L, s"$a $b"),       // exact dup of doc 1: every chunk loses to doc 1
      (5L, s"$c $a $b")     // chunk0=[c+32a], chunk1=[a+32b] (dup of doc1 chunk0!), chunk2=[b]
    ).toDF("doc_id", "text")
    val got = Curation.chunkDedup(df, col("text"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // doc1: 2 chunks (192 toks → chunks at 0,96: lens 128, 96), all kept
    assert(got(1L) == ((2L, 2L, 128L + 96L)))
    // doc2 identical text: same chunk hashes, doc 1 wins every one
    assert(got(2L) == ((2L, 0L, 0L)))
    // doc5: 288 toks → chunks at 0,96,192 (lens 128,128,96); chunk1 ==
    // doc1's chunk0 (a + first 32 of b) and chunk2 == doc1's chunk1 (b) →
    // both lose to doc1 (smaller doc_id); only chunk0 (c + 32 of a) kept
    assert(got(5L) == ((3L, 1L, 128L)))
    // global invariant: total kept == number of distinct chunk contents
    val chunks = Curation.docChunks(df, col("text"))
    val distinctHashes = chunks.select("chunk_md5").distinct().count()
    assert(got.values.map(_._2).sum == distinctHashes)
  }

  test("ngramNovelty: distinct bigrams, cross-doc df, within-doc dups collapse") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "a b c a b"),   // bigrams: ab, bc, ca, ab → distinct {ab, bc, ca}
      (2L, "a b x"),       // {ab, bx} — shares ab with doc 1
      (3L, "solo"),        // no bigrams → absent from output
      (4L, "p q")          // {pq} — unique
    ).toDF("doc_id", "text")
    val got = Curation.ngramNovelty(df, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // doc1: 3 distinct bigrams; 'a b' has df=2 (docs 1,2 — the within-doc
    // repeat does NOT make df=1 into df>1 spuriously); bc, ca novel
    assert(got(1L) == ((3L, 2L)))
    assert(got(2L) == ((2L, 1L)))  // ab shared, bx novel
    assert(!got.contains(3L))
    assert(got(4L) == ((1L, 1L)))
  }

  test("bloom semi-join: no false negatives, candidates bounded, bits portable") {
    val s = spark
    import s.implicits._
    val small = (1L to 200L).filter(_ % 3 == 0).toDF("k")
    val big = (1L to 2000L).toDF("k")
    val surv = graft.ops.Bloom.bloomSemiJoin(big, col("k"), small, col("k"))
      .collect().map(_.getLong(0)).toSet
    val truth = (1L to 200L).filter(_ % 3 == 0).toSet
    // NO false negatives: every true member survives
    assert(truth.subsetOf(surv), s"missing: ${truth -- surv}")
    // false positives bounded: with 66 keys * 4 hashes in 2^20 bits the
    // fill factor is ~2.5e-4; P(all 4 bits set for a non-member) ~ 4e-15,
    // so over 1934 non-members expect exactly zero (deterministic data →
    // deterministic assertion; a handful would still pass the <1% bound)
    assert(surv.size - truth.size <= 19, s"fp=${surv.size - truth.size}")
    // bitset portability: popcount equals the distinct-position count the
    // oracle computes (the cross-engine contract for n_bits_set)
    val bits = graft.ops.Bloom.buildBits(small, col("k"))
    val pop = bits.map(java.lang.Long.bitCount).sum
    val distinctPos = small
      .select(explode(graft.ops.Bloom.positions(col("k").cast("string"), 4, 1L << 20)).as("p"))
      .distinct().count()
    assert(pop.toLong == distinctPos)
  }

  test("bloomAntiJoin: equals plain anti-join even with a saturated filter (forced FPs)") {
    val s = spark
    import s.implicits._
    val small = (1L to 500L).filter(_ % 5 == 0).toDF("k")   // 100 keys
    val big = (1L to 3000L).toDF("k")
    // m = DefaultBits floor → honest config first
    val got = graft.ops.Bloom.bloomAntiJoin(big, col("k"), small, col("k"))
      .collect().map(_.getLong(0)).sorted
    val want = (1L to 3000L).filterNot(x => x <= 500 && x % 5 == 0).sorted
    assert(got.toSeq == want)
    // now FORCE false positives with a tiny pinned m (256 bits for 100
    // keys ≈ saturated): the exact anti-join stage must still correct
    // every FP — result identical
    val gotSat = graft.ops.Bloom.bloomAntiJoin(big, col("k"), small, col("k"), m = 256L)
      .collect().map(_.getLong(0)).sorted
    assert(gotSat.toSeq == want, "saturated filter changed the anti-join result")
  }

  test("bloomAntiJoin: NULL big-side keys survive exactly like plain left-anti") {
    val s = spark
    import s.implicits._
    val small = Seq(2L, 4L, 6L).toDF("k")
    val big = Seq(Some(1L), Some(2L), None, Some(3L), Some(4L), None, Some(9L))
      .toDF("k")
    val got = graft.ops.Bloom.bloomAntiJoin(big, col("k"), small, col("k"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    val want = big.join(small.withColumnRenamed("k", "sk"),
        big("k") === col("sk"), "left_anti")
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    // plain anti-join KEEPS NULL-key rows (condition never satisfied);
    // the bloom variant must too (r7: NULL probe dropped them from both
    // branches). Multiset compare, order-insensitive.
    assert(got.sortBy(_.toString).toSeq == want.sortBy(_.toString).toSeq)
    assert(got.count(_.isEmpty) == 2, "both NULL-key rows must survive")
  }

  test("bloom broadcast regime (m > MaxLiteralBits): same semantics, no plan literal") {
    val s = spark
    import s.implicits._
    val m = graft.ops.Bloom.MaxLiteralBits * 2 // 2^25: forces BloomProbe path
    val small = (1L to 300L).filter(_ % 3 == 0).toDF("k")
    val big = (1L to 2000L).toDF("k")
    val semi = graft.ops.Bloom.bloomSemiJoin(big, col("k"), small, col("k"), m = m)
    // the bitset must NOT ride as a literal: 2^25 bits = 512Ki longs would
    // be megabytes of plan text; the broadcast-probe plan stays tiny
    assert(semi.queryExecution.executedPlan.toString.length < 100000,
      "broadcast-regime plan embeds the bitset")
    val surv = semi.collect().map(_.getLong(0)).toSet
    val truth = (1L to 300L).filter(_ % 3 == 0).toSet
    assert(truth.subsetOf(surv), s"false negatives: ${truth -- surv}")
    assert(surv.size - truth.size <= 19, s"fp=${surv.size - truth.size}")
    // anti-join equality holds in the broadcast regime too, incl. NULLs
    val bigN = (Seq[Option[Long]](None) ++ (1L to 2000L).map(Some(_))).toDF("k")
    val got = graft.ops.Bloom.bloomAntiJoin(bigN, col("k"), small, col("k"), m = m)
      .collect().map(r => if (r.isNullAt(0)) -1L else r.getLong(0)).sorted
    val want = (Seq(-1L) ++ (1L to 2000L).filterNot(x => x <= 300 && x % 3 == 0)).sorted
    assert(got.toSeq == want)
  }

  test("bloom size guards: sizeBits caps at MaxBits, oversized m rejected") {
    val s = spark
    import s.implicits._
    // auto-size would want 2^40 bits for 2^36 keys — capped at MaxBits
    assert(graft.ops.Bloom.sizeBits(1L << 36) == graft.ops.Bloom.MaxBits)
    val small = Seq(1L).toDF("k")
    intercept[IllegalArgumentException] {
      graft.ops.Bloom.buildBits(small, col("k"), m = graft.ops.Bloom.MaxBits * 2)
    }
    intercept[IllegalArgumentException] {
      graft.ops.Bloom.mightContain(Array(0L), col("k"), m = graft.ops.Bloom.MaxBits * 2)
    }
  }

  test("piiScrub: counts before redaction, email-then-ip order, boundary forms") {
    val s = spark
    import s.implicits._
    val df = Seq(
      ("a@b.c and x9@sub.dom.tld plus 1.2.3.4 then 10.200.250.99", 2L, 2L),
      ("no pii here at all", 0L, 0L),
      ("ip 192.168.0.1 only", 0L, 1L),
      ("mail only joe@example.org", 1L, 0L)
    ).toDF("text", "e", "i")
    val (ne, ni, clean) = Curation.piiScrub(col("text"))
    val got = df.select(col("text"), ne.as("ne"), ni.as("ni"), clean.as("c"),
      col("e"), col("i")).collect()
    got.foreach { r =>
      assert(r.getLong(1) == r.getLong(4), s"email count for '${r.getString(0)}'")
      assert(r.getLong(2) == r.getLong(5), s"ip count for '${r.getString(0)}'")
      // nothing matching either pattern survives in the clean text
      assert(!r.getString(3).matches(".*[a-z0-9]+@[a-z0-9.]+[a-z0-9].*"))
      assert(!r.getString(3).matches(".*[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+.*"))
    }
    val c0 = got.find(_.getString(0).startsWith("a@b.c")).get.getString(3)
    assert(c0 == "<email> and <email> plus <ip> then <ip>")
  }

  test("repetitionStats: exact counts and integer-cross-multiplied keep flag") {
    val s = spark
    import s.implicits._
    val df = Seq(
      // 10 tokens, 'a' x5 → top 5*5=25 > 10 → fail top-token rule;
      // bigrams: 'a a' x4 + 5 distinct → 9 total, dup = 4-1 = 3
      (1L, "a a a a a b c d e f"),
      // 10 distinct tokens, no repeated bigram → keep
      (2L, "q w e r t y u i o p"),
      // 'a b' bigram repeated: tokens a,b,a,b,a,b → bigrams ab,ba,ab,ba,ab
      // → 5 bigrams, dup = 5 - 2 = 3; 3*2=6 > 5 → fail dup-bigram rule
      (3L, "a b a b a b"),
      (4L, "solo")  // 1 token, 0 bigrams: 0*2 <= 0 → bigram rule passes
    ).toDF("doc_id", "text")
    val got = Curation.repetitionStats(df, col("text"))
      .select("doc_id", "n_tok", "top_tok_cnt", "n_bigram", "dup_bigram_cnt", "keep")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))).toMap
    assert(got(1L) == ((10L, 5L, 9L, 3L, false)))
    assert(got(2L) == ((10L, 1L, 9L, 0L, true)))
    assert(got(3L) == ((6L, 3L, 5L, 3L, false)))
    assert(got(4L) == ((1L, 1L, 0L, 0L, false))) // top 1*5=5 > 1 → top rule fails
  }

  test("mixtureAllocation: budget exactly exhausted, largest remainder fires, sublinear") {
    val s = spark
    import s.implicits._
    // skewed cells: 10000, 100, 9, 1 docs → sqrt weights 100, 10, 3, 1
    val rows = Seq.tabulate(10000)(i => ("big", i)) ++
      Seq.tabulate(100)(i => ("mid", i)) ++
      Seq.tabulate(9)(i => ("small", i)) ++ Seq(("tiny", 0))
    val df = rows.toDF("source", "i")
    val got = Curation.mixtureAllocation(df, Seq(col("source")), budget = 1000L)
      .select("source", "n_docs", "w", "alloc").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val total = got.values.map(_._3).sum
    assert(total == 1000L, s"allocs must exhaust the budget, got $total")
    // tot=114: big base = 1000*100/114 = 877, mid 87, small 26, tiny 8
    // → base sum 998, two largest remainders get +1
    assert(got("big")._2 == 100L && got("tiny")._2 == 1L)
    assert(got.values.map(_._3).forall(_ > 0))
    // sublinear: big has 10000x tiny's docs but <200x its allocation
    assert(got("big")._3 < got("tiny")._3 * 200)
    // verify against an independent largest-remainder computation
    val ws = got.view.mapValues(_._2).toMap
    val tot = ws.values.sum
    val base = ws.view.mapValues(w => 1000L * w / tot).toMap
    val left = 1000L - base.values.sum
    val order = ws.keys.toSeq.sortBy(k => (-(1000L * ws(k) % tot), k))
    val expect = base.map { case (k, b) =>
      k -> (b + (if (order.indexOf(k) < left) 1L else 0L)) }
    got.foreach { case (k, (_, _, a)) => assert(a == expect(k), s"cell $k") }
  }

  test("zorder: morton key is a bijection and buckets are range-local in both dims") {
    val s = spark
    import s.implicits._
    // drive the gate's expression over a controlled grid via a fake
    // events frame: every (ux, vx) in a 32x32 grid
    val grid = for (u <- 0 until 32; v <- 0 until 32) yield (u.toLong, v.toLong)
    val df = grid.toDF("ux", "vx")
      .withColumn("zkey", expr(
        (0 until 10).flatMap(i => Seq(
          s"shiftleft(shiftright(ux, $i) & 1, ${2 * i})",
          s"shiftleft(shiftright(vx, $i) & 1, ${2 * i + 1})")).mkString(" | ")))
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // bijection on the grid: 1024 distinct keys, decode recovers (ux, vx)
    assert(rows.map(_._3).distinct.length == 1024)
    def unmorton(z: Long): (Long, Long) = {
      var (u, v) = (0L, 0L)
      for (i <- 0 until 10) {
        u |= ((z >> (2 * i)) & 1) << i
        v |= ((z >> (2 * i + 1)) & 1) << i
      }
      (u, v)
    }
    rows.foreach { case (u, v, z) => assert(unmorton(z) == ((u, v))) }
    // locality: group by zkey div 64 (64 cells per bucket on the grid) —
    // a bucket is a contiguous Z range covering an 8x8 tile, so it must
    // span at most 8 in BOTH dims. That bounded two-dimensional span is
    // what makes min/max file stats prunable on either dimension.
    val buckets = rows.groupBy(_._3 / 64)
    buckets.values.foreach { cell =>
      val us = cell.map(_._1); val vs = cell.map(_._2)
      assert(us.max - us.min <= 7 && vs.max - vs.min <= 7)
    }
  }

  test("gate faces at sf0.001: non-empty, deterministic across partition layouts") {
    val d = "/root/testdata/sf0.001"
    val qs: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] =
      Seq("chunks" -> Curation.docChunksGate _, "pii" -> Curation.piiScrubGate _,
        "rep" -> Curation.repetitionGate _, "mix" -> Curation.mixtureGate _,
        "zorder" -> Curation.zorderGate _)
    qs.foreach { case (name, fn) =>
      val a = fn(spark, d).collect()
      assert(a.nonEmpty, name)
      // layout independence: same result under a different shuffle width
      spark.conf.set("spark.sql.shuffle.partitions", 7)
      try {
        val b = fn(spark, d).collect()
        assert(a.toSeq == b.toSeq, s"$name must be layout-independent")
      } finally spark.conf.set("spark.sql.shuffle.partitions", 4)
    }
  }

  test("sourceCap: bounded aggregate ≡ full window sort, under-cap groups kept whole") {
    val s = spark
    import s.implicits._
    // skewed groups: a hot key (40 rows), a mid key (7), an under-cap key (2)
    val rows = (1L to 40L).map(i => ("hot", i)) ++
      (41L to 47L).map(i => ("mid", i)) ++ Seq(("cold", 48L), ("cold", 49L))
    // 9 partitions forces map-side partials + real merges of bounded buffers
    val df = rows.toDF("source", "doc_id").repartition(9)

    val got = Curation.sourceCap(df, col("source"), col("doc_id"), cap = 5)
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(identity).toSeq

    val want = df.select(col("source"), col("doc_id"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("source"))
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))).as("rn"))
      .where(col("rn") <= 5).select("source", "doc_id")
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(identity).toSeq

    assert(got == want)
    assert(got.count(_._1 == "hot") == 5)   // truncated at cap
    assert(got.count(_._1 == "cold") == 2)  // under-cap group intact
  }

  test("corpusAccounting (q163): planted cross-source dup ledger hand-computed; totals reconcile") {
    val s = spark
    import s.implicits._
    // 40 alphabetic words, 119 chars: inside the len band, >=30 words,
    // zero digits - passes all three q141 filters
    val longTxt = (0 until 40).map(i => "w" + "abcdefgh"(i % 8)).mkString(" ")
    val shortTxt = "too short" // fails len/words
    val rows = Seq(
      (1L, longTxt, "srcA"),   // unique keeper, passes
      (2L, longTxt, "srcB"),   // dup of 1 -> srcB loses it to srcA
      (3L, shortTxt, "srcA"),  // unique keeper, fails filters
      (4L, longTxt + " wx", "srcB")) // unique keeper, passes
      .map { case (id, t, src) => (id, t, "en", src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = "target/tmp/acct_spec"
    rows.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Curation.corpusAccounting(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // srcA: raw 2 (docs 1,3), unique 2, final 1 (doc 3 fails)
    // srcB: raw 2 (docs 2,4), unique 1 (doc 2 is a dup of 1), final 1
    assert(got("srcA") == ((2L, 2L, 1L)))
    assert(got("srcB") == ((2L, 1L, 1L)))
    // face identities at sf0.001
    val f = Curation.corpusAccounting(spark, "/root/testdata/sf0.001").collect()
    assert(f.map(_.getLong(1)).sum ==
      Tables.documents(spark, "/root/testdata/sf0.001").count())
    f.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2) && r.getLong(2) <= r.getLong(1))
      assert(r.getLong(4) >= 0 && r.getLong(4) <= 1000000L)
    }
  }

  test("sourceCap: layout-independent (bounded merges commute)") {
    val s = spark
    import s.implicits._
    val df = (1L to 500L).map(i => (s"k${i % 3}", i)).toDF("source", "doc_id")
    def run(parts: Int): Seq[(String, Long)] =
      Curation.sourceCap(df.repartition(parts), col("source"), col("doc_id"), cap = 8)
        .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(identity).toSeq
    assert(run(1) == run(13))
  }
}
