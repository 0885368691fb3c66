package graft

import graft.ops.Dedup
import org.scalatest.funsuite.AnyFunSuite

/** Specs for exact substring-span dedup (q105): hand-built fixtures pin
  * the span algebra the corpus gate can't isolate — cross-doc shared
  * runs yield ONE merged span per side, within-doc self-repeats count,
  * separated duplicated runs stay separate spans, clean docs zero-fill —
  * plus partition-layout independence of the whole pipeline. */
class DupSpansSpec extends AnyFunSuite with SparkFixture {

  private def run(docs: Seq[(Long, String)], w: Int, parts: Int = 4) = {
    val s = spark
    import s.implicits._
    Dedup.dupSpans(docs.toDF("doc_id", "text").repartition(parts), w)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
  }

  test("shared 10-token run between two docs: one merged span per side") {
    val run10 = "p q r s t u v w x y"
    val docs = Seq(
      1L -> run10,                     // the run IS the doc
      2L -> s"m1 m2 $run10 m3",        // embedded mid-doc
      3L -> "z1 z2 z3 z4 z5 z6 z7")    // clean
    val got = run(docs, w = 4)
    assert(got(1L) == ((10L, 1L, 10L)))  // n_tokens, n_spans, dup_tokens
    assert(got(2L) == ((13L, 1L, 10L)))
    assert(got(3L) == ((7L, 0L, 0L)))
  }

  test("within-doc self-repeat: boilerplate counts as duplicated text") {
    // windows at pos 0 and 4 are both "a b c d"; gap 4 <= w merges the
    // two intervals into one whole-doc span
    val got = run(Seq(1L -> "a b c d a b c d"), w = 4)
    assert(got(1L) == ((8L, 1L, 8L)))
  }

  test("two duplicated runs separated by a wide unique gap: two spans") {
    val r1 = "a b c d"; val r2 = "e f g h"
    val docs = Seq(
      1L -> s"$r1 u1 u2 u3 u4 u5 u6 u7 u8 u9 $r2",
      2L -> s"$r1 v1 v2 v3 v4 v5 v6 v7 v8 v9 $r2")
    val got = run(docs, w = 4)
    // per side: 17 tokens, spans [0,3] and [13,16], 8 dup tokens
    assert(got(1L) == ((17L, 2L, 8L)))
    assert(got(2L) == ((17L, 2L, 8L)))
  }

  test("partition-layout independence") {
    val docs = (1L to 40L).map { i =>
      if (i % 4 == 0) i -> "shared run of eight tokens exactly here now plus more"
      else i -> s"unique$i words only in doc number $i with filler tokens"
    }
    val a = run(docs, w = 8, parts = 1)
    val b = run(docs, w = 8, parts = 13)
    assert(a == b)
    assert(docs.collect { case (i, _) if i % 4 == 0 => i }
      .forall(i => a(i)._2 >= 1L))
  }

  test("prefixJaccardPairs (q112) equals the brute-force join; prefixes actually prune") {
    val sf = "/root/testdata/sf0.001"
    val brute = Dedup.jaccardPairs(spark, sf).collect().map(_.toSeq).toSeq
    // route = false pins the PREFIX machinery itself (the adaptive route
    // would — correctly — pick the brute plan on this bounded-df corpus,
    // making the equality vacuous)
    val pruned = Dedup.prefixJaccardPairs(spark, sf, route = false)
      .collect().map(_.toSeq).toSeq
    assert(brute.nonEmpty, "fixture has no near-dup pairs — equality is vacuous")
    assert(pruned == brute)
    // a LOWER threshold widens prefixes but must stay exact too (the
    // prefix-size formula is threshold-dependent — exercise it off 0.5)
    val b3 = Dedup.prefixJaccardPairs(spark, sf, t = 0.3, route = false)
      .collect().map(_.toSeq).toSeq
    assert(b3.size >= brute.size, "t=0.3 must admit at least the t=0.5 pairs")
    // the adaptive route (the gate face's default) is output-identical
    val routed = Dedup.prefixJaccardPairs(spark, sf).collect().map(_.toSeq).toSeq
    assert(routed == brute)
    // routed at t = 0.3 must honor the threshold too — on this bounded-df
    // corpus the route picks the BRUTE plan, which used to hard-code the
    // 0.5 cut and silently drop the 0.3-band pairs (ADVICE r10)
    val routed3 = Dedup.prefixJaccardPairs(spark, sf, t = 0.3)
      .collect().map(_.toSeq).toSeq
    assert(routed3 == b3, "routed t=0.3 diverges from the pinned prefix plan")
  }

  test("intraDocRepetition (q154): planted boilerplate spans hand-computed; clean doc absent") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      // "a b c" repeats at pos 0/5, "b c d" at 1/6 -> islands {0,1} and
      // {5,6} (gap 4 > 3 cuts) -> spans [0,3] and [5,8]: 8 of 10 tokens
      1L -> "a b c d e a b c d f",
      2L -> "x1 x2 x3 x4 x5 x6 x7 x8", // clean: no row
      // "a b c"/"b c d" repeat with gap 3 <= w: ONE whole-doc span
      3L -> "a b c d a b c d").toDF("doc_id", "text")
    val got = graft.ops.Dedup.intraDocRepetitionOn(docs.repartition(3))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(got.keySet == Set(1L, 3L))
    // (n_rep_grams, n_spans, covered, max_run, n_words, rep_ppm)
    assert(got(1L) == ((2L, 2L, 8L, 4L, 10L, 800000L)))
    assert(got(3L) == ((2L, 1L, 8L, 8L, 8L, 1000000L)))
  }

  test("applyRepetitionSpans (q155): the splice removes every flagged repeated 3-gram on the fixture") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      1L -> "a b c d e a b c d f", // spans [0,3],[5,8] -> keeps "e f"
      2L -> "x1 x2 x3 x4 x5 x6 x7 x8", // clean: passthrough, 0 removed
      3L -> "a b c d a b c d") // whole-doc span -> empty, all removed
      .toDF("doc_id", "text")
    val spans = graft.ops.Dedup.repSpansOf(graft.ops.Dedup.repMarked(docs))
    val got = graft.ops.Curation.applySpansOn(docs.repartition(3), spans)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got(1L) == (("e f", 8L, 10L)))
    assert(got(2L) == (("x1 x2 x3 x4 x5 x6 x7 x8", 0L, 8L)))
    assert(got(3L) == (("", 8L, 8L)))
    // every flagged repeated gram is GONE from its doc's cleaned text
    val flagged = graft.ops.Dedup.repMarked(docs)
      .select("doc_id", "sh").distinct().collect()
      .map(r => r.getLong(0) -> r.getString(1))
    flagged.foreach { case (id, gram) =>
      assert(!got(id)._1.contains(gram),
        s"flagged gram '$gram' survived the splice in doc $id")
    }
  }

  test("q155 gate face at sf0.001: removal reconciles with q154's covered_tokens per doc") {
    val sf = "/root/testdata/sf0.001"
    val applied = graft.ops.Curation.applyRepetitionSpans(spark, sf)
    val stats = Dedup.intraDocRepetition(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("covered_tokens"))
    // flagged docs: n_tokens_removed == covered_tokens (the span lists
    // are the same by construction — this pins the two consumers to it)
    val joined = applied.join(stats, Seq("doc_id"), "left").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val removed = r.getAs[Long]("n_tokens_removed")
      val covered = Option(r.getAs[java.lang.Long]("covered_tokens"))
        .map(_.longValue).getOrElse(0L)
      assert(removed == covered,
        s"doc ${r.getLong(0)}: removed $removed != covered $covered")
      assert(removed <= r.getAs[Long]("n_words"))
    }
    assert(joined.exists(_.getAs[Long]("n_tokens_removed") > 0),
      "no doc had anything spliced — fixture corpus should have boilerplate")
  }

  test("applyContaminationSpans (q158): benchmark overlap excised, clean train docs pass through") {
    val s = spark
    import s.implicits._
    val bench = "alpha beta gamma delta epsilon"
    val docs = Seq(
      (50L, bench), // benchmark slice (doc_id % 50 == 0)
      (1L, s"intro words here $bench closing words"), // contaminated
      (2L, "totally clean text with unique words")) // clean train doc
      .map { case (id, t) => (id, t, "en", "srcA", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = "target/tmp/contam_apply_spec"
    docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.ops.Curation.applyContaminationSpans(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got.keySet == Set(1L, 2L)) // benchmark doc is not train output
    assert(got(2L) == (("totally clean text with unique words", 0L, 6L)))
    // span [3,7] excised: the 5 benchmark words are gone, prose kept
    assert(got(1L) == (("intro words here closing words", 5L, 10L)))
    bench.split(" ").sliding(3).map(_.mkString(" ")).foreach { g =>
      assert(!got(1L)._1.contains(g), s"benchmark gram '$g' survived the splice")
    }
  }

  test("gate face at sf0.001: some duplicated spans exist, totals bounded") {
    val rows = Dedup.dupSpansGate(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    assert(rows.exists(_.getLong(2) > 0), "no duplicated spans in corpus")
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(1),
        s"dup_tokens exceeds n_tokens for doc ${r.getLong(0)}")
    }
  }
}
