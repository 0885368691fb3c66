package graft

import graft.ops.TextAnalysis
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the bigram-LM quality score (q113): each scoring path
  * (bigram hit, unigram backoff, OOV) against hand-computed fixtures,
  * the short-doc sentinel, layout independence, and the end-to-end
  * discrimination property the operator exists for — training-like text
  * must score fewer bits/token than gibberish. */
class LmQualitySpec extends AnyFunSuite with SparkFixture {

  private def score(docs: Seq[(Long, String)], parts: Int = 4): Map[Long, (Long, Long)] = {
    val s = spark
    import s.implicits._
    TextAnalysis.lmQualityScoreOf(
        docs.toDF("doc_id", "text").repartition(parts))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
  }

  // train half = doc 0: "the cat sat on the mat"
  //   N = 6; uni: the=2, cat=sat=on=mat=1
  //   bigrams: (the,cat) (cat,sat) (sat,on) (on,the) (the,mat) each 1
  private val train = Seq(0L -> "the cat sat on the mat")

  test("bigram-hit path: hand-computed milli-bits") {
    // doc 1 "the cat sat": (the,cat) c2=1,c1=2 -> ilog2(2)-ilog2(1)=1
    //                      (cat,sat) c2=1,c1=1 -> 0; (1000*1) div 2 = 500
    val got = score(train :+ (1L -> "the cat sat"))
    assert(got(1L) == (2L, 500L))
  }

  test("backoff and OOV paths: hand-computed milli-bits") {
    // doc 3 "dog zzz the": (dog,zzz): c2 null, cu(zzz) null -> OOV:
    //   2+4+ilog2(6)=8; (zzz,the): c2 null, cu(the)=2 -> 2+ilog2(6)-1=3
    //   (1000*11) div 2 = 5500
    val got = score(train :+ (3L -> "dog zzz the"))
    assert(got(3L) == (2L, 5500L))
  }

  test("short-doc sentinel: < 2 tokens scores -1 with 0 pairs") {
    val got = score(train ++ Seq(5L -> "the", 7L -> ""))
    assert(got(5L) == (0L, -1L))
    assert(got(7L) == (0L, -1L))
  }

  test("layout independence") {
    val docs = train ++ (1 to 19).map(i =>
      (i * 2 + 1).toLong -> s"the cat sat word$i on the mat zz$i")
    assert(score(docs, parts = 1) == score(docs, parts = 7))
  }

  test("discrimination: fluent (training-like) text scores fewer bits than gibberish") {
    val corpus = Seq(
      0L -> "the cat sat on the mat and the dog sat on the rug",
      2L -> "a cat and a dog sat on a mat in the sun",
      1L -> "the cat sat on the mat",          // fluent: seen bigrams
      3L -> "rug sun mat qqq www eee rrr ttt") // gibberish: backoff + OOV
    val got = score(corpus)
    assert(got(1L)._2 < got(3L)._2,
      s"fluent ${got(1L)._2} should be < gibberish ${got(3L)._2}")
  }
}
