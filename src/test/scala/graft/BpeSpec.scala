package graft

import graft.ops.TextAnalysis
import org.scalatest.funsuite.AnyFunSuite

/** Specs for BPE tokenizer training (q109): hand fixtures pin the merge
  * algebra the corpus gate can't isolate — weighted argmax pair choice,
  * tie-breaks, and the exact greedy left-to-right merge on a
  * self-overlapping pair (the case a naive string replace gets wrong) —
  * plus layout independence and gate shape at sf0.001. */
class BpeSpec extends AnyFunSuite with SparkFixture {

  private def train(docs: Seq[String], parts: Int = 4) = {
    val s = spark
    import s.implicits._
    TextAnalysis.bpeTrainFrom(
      docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text").repartition(parts))
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3)))
  }

  test("learns the dominant pair first, then the next; weighted by word frequency") {
    // 'ab' appears inside every 'abc' (3 words × 2 docs) => pair (a,b)
    // count 6 dominates; after merging, (ab,c) count 6 wins step 2
    val docs = Seq("abc abc abc", "abc abc abc xy")
    val got = train(docs)
    val merges = got.filter(_._1 == "merge").sortBy(_._2)
    assert(merges(0)._3 == "a b" && merges(0)._4 == 6L, s"got ${merges.toSeq}")
    assert(merges(1)._3 == "ab c" && merges(1)._4 == 6L, s"got ${merges.toSeq}")
    // final symbols: 'abc' merged whole; x and y survive as singles
    val syms = got.filter(_._1 == "symbol").map(s => s._3 -> s._4).toMap
    assert(syms("abc") == 6L && syms("x") == 1L && syms("y") == 1L)
  }

  test("greedy left-to-right merge on a self-overlapping pair: oooo -> oo oo") {
    // corpus of one word 'oooo' repeated: best pair is (o,o) count 3/word;
    // exact BPE merges positions 0 and 2 (run parity), NEVER 1
    val got = train(Seq("oooo oooo oooo"))
    val merges = got.filter(_._1 == "merge").sortBy(_._2)
    assert(merges(0)._3 == "o o", s"got ${merges.toSeq}")
    // after merge 1 vocab is 'oo oo'; merge 2 must be (oo, oo) count 3
    assert(merges(1)._3 == "oo oo" && merges(1)._4 == 3L, s"got ${merges.toSeq}")
    val syms = got.filter(_._1 == "symbol").map(s => s._3 -> s._4).toMap
    assert(syms == Map("oooo" -> 3L))
  }

  test("tie-break: equal counts pick the lexicographically smallest pair") {
    // 'zz' and 'aa' both appear once; (a,a) must win over (z,z)
    val got = train(Seq("zz aa"))
    val merges = got.filter(_._1 == "merge").sortBy(_._2)
    assert(merges(0)._3 == "a a", s"got ${merges.toSeq}")
  }

  test("partition-layout independence") {
    val docs = Seq("the quick brown fox", "the quick red fox", "the lazy dog dog")
    assert(train(docs, parts = 1).toSeq == train(docs, parts = 13).toSeq)
  }

  test("bpeEncode (q114): hand-computed counts under the trained merges") {
    val s = spark
    import s.implicits._
    // vocab: abcd(2) -> "a b c d", xy(1) -> "x y"
    // merge 1: counts ab=2, bc=2, cd=2, xy=1 -> lexicographic "a b"
    //   abcd: "ab c d"
    // merge 2: "ab c"=2, "c d"=2, "x y"=1 -> lexicographic "ab c"
    //   abcd: "abc d" (2 symbols); xy stays "x y" (2 symbols)
    val docs = Seq((0L, "abcd"), (1L, "abcd xy")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeEncodeFrom(docs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(0L -> (1L, 2L), 1L -> (2L, 4L)))
  }

  test("bpeEncode: wordless doc zero-fills; layout-independent") {
    val s = spark
    import s.implicits._
    val docs = Seq((0L, "abcd"), (1L, "abcd xy"), (2L, "...!!!"))
    def run(parts: Int) = TextAnalysis.bpeEncodeFrom(
        docs.toDF("doc_id", "text").repartition(parts))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val a = run(1)
    assert(a.find(_._1 == 2L).contains((2L, 0L, 0L)))
    assert(a == run(7))
  }

  test("gate face at sf0.001: 2 merges + 20 symbols, weights descending") {
    val rows = TextAnalysis.bpeTrain(spark, "/root/testdata/sf0.001").collect()
    val merges = rows.filter(_.getString(0) == "merge")
    val syms = rows.filter(_.getString(0) == "symbol")
    assert(merges.length == 2 && syms.length == 20)
    assert(merges.forall(_.getLong(3) > 0))
    val weights = syms.sortBy(_.getInt(1)).map(_.getLong(3)).toSeq
    assert(weights == weights.sorted.reverse)
  }
}
