package graft

import graft.ops.TextAnalysis
import org.scalatest.funsuite.AnyFunSuite

/** Specs for DSIR importance resampling (q118): an independent local
  * replay of the whole model (hashed features via MessageDigest — the
  * same md5 the operator's portable bucket hash uses), the featureless
  * sentinel, layout independence, and the discrimination property the
  * method exists for: target-vocabulary docs must out-weigh off-target
  * ones. */
class DsirSpec extends AnyFunSuite with SparkFixture {

  private def run(docs: Seq[(Long, String, String)], parts: Int = 4)
      : Map[Long, (Long, Long, Boolean)] = {
    val s = spark
    import s.implicits._
    TextAnalysis.dsirResampleOf(
        docs.toDF("doc_id", "text", "lang").repartition(parts))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
  }

  // ---- independent local replay of the operator's math ----
  private val B = 8192
  private def bucket(f: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(("dsir|" + f).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 4), 16) % B
  }
  private def ilog2(x: Long): Long = 63 - java.lang.Long.numberOfLeadingZeros(x)
  private def feats(text: String): Seq[Long] = {
    val ws = "[a-z0-9]+".r.findAllIn(text).toSeq
    val bi = ws.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq
    (ws ++ bi).map(bucket)
  }
  private def replay(docs: Seq[(Long, String, String)])
      : Map[Long, (Long, Long, Boolean)] = {
    val all = docs.flatMap { case (id, text, lang) =>
      feats(text).map(b => (id, lang, b)) }
    val cr = all.groupBy(_._3).map { case (b, xs) => b -> xs.size.toLong }
    val ct = all.filter(_._2 == "en").groupBy(_._3)
      .map { case (b, xs) => b -> xs.size.toLong }
    val nr = all.size.toLong
    val nt = all.count(_._2 == "en").toLong
    val off = ilog2(nr + B) - ilog2(nt + B)
    docs.map { case (id, text, _) =>
      val fs = feats(text)
      if (fs.isEmpty) id -> ((0L, 0L, false))
      else {
        val s = fs.map(b =>
          ilog2(ct.getOrElse(b, 0L) + 1) - ilog2(cr(b) + 1) + off).sum
        id -> ((fs.size.toLong, 1000L * s, 1000L * s > 0))
      }
    }.toMap
  }

  private val corpus = Seq(
    (0L, "alpha beta gamma alpha beta", "en"),
    (1L, "alpha gamma delta beta alpha", "en"),
    (2L, "zork quux blarg zork quux mumble", "de"),
    (3L, "quux blarg mumble zork blarg", "de"),
    (4L, "alpha beta gamma delta", "fr"),      // en-vocab doc, fr label
    (5L, "zork quux mumble blarg", "fr"),      // de-vocab doc, fr label
    (6L, "", "en"),                            // featureless
    (7L, "alpha zork", "zh"))                  // mixed

  test("full local replay: model, weights, and keep flags bit-for-bit") {
    assert(run(corpus) == replay(corpus))
  }

  test("discrimination: target-vocabulary doc kept, off-target doc cut") {
    // needs VOLUME: with feature totals ≪ B the add-B smoothing zeroes
    // the off term (ilog2(nr+B) = ilog2(nt+B)) and, since ct ≤ cr makes
    // λ ≤ 0 always, nothing could be kept — so build a corpus whose
    // totals clear B: 200 target-vocab en docs, 600 off-vocab de docs
    val tVocab = (0 until 20).map(i => s"tw$i").mkString(" ")
    val oVocab = (0 until 20).map(i => s"ov$i").mkString(" ")
    val docs = (0L until 200L).map(i => (i, tVocab, "en")) ++
      (200L until 800L).map(i => (i, oVocab, "de")) ++
      Seq((900L, tVocab, "fr"),   // target-vocab doc with off-target label
          (901L, oVocab, "fr"))
    val got = run(docs)
    assert(got == replay(docs))   // replay holds at volume too
    assert(got(900L)._2 > got(901L)._2 &&
      got(900L)._3 && !got(901L)._3,
      s"target-vocab ${got(900L)} vs off-vocab ${got(901L)}")
  }

  test("featureless doc carries (0, 0, false)") {
    assert(run(corpus)(6L) == ((0L, 0L, false)))
  }

  test("layout independence: 1 vs 7 partitions") {
    assert(run(corpus, 1) == run(corpus, 7))
  }
}
