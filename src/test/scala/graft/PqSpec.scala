package graft

import graft.ops.Similarity
import org.scalatest.funsuite.AnyFunSuite

/** Specs for product quantization + ADC retrieval (q106): a plain-Scala
  * reference implementation replayed on a deterministic 30-vector
  * fixture must match the distributed pipeline row-for-row (encode,
  * distance table, ranking, tie-breaks), plus partition-layout
  * independence and gate-face shape at sf0.001. */
class PqSpec extends AnyFunSuite with SparkFixture {

  // deterministic fixture: 30 vectors x 64 dims, mixed-sign ints
  private val fix: Seq[(Long, Seq[Float])] = (0L until 30L).map { i =>
    i -> (0 until 64).map(d => (((i * 7 + d * 3) % 23) - 11).toFloat)
  }

  /** Plain-Scala replay of the exact q106 algorithm. */
  private def reference(vs: Seq[(Long, Seq[Float])]): Seq[(Long, Long, Long, Int)] = {
    def quant(v: Seq[Float]): Seq[Double] = {
      val ma = v.map(x => math.abs(x.toDouble)).max
      if (ma > 0) v.map(x => math.floor(x.toDouble * 127.0 / ma + 0.5)) else v.map(_ => 0.0)
    }
    val q = vs.map { case (id, v) => id -> quant(v) }.toMap
    def sub(id: Long, m: Int): Seq[Double] = q(id).slice(m * 8, m * 8 + 8)
    def d2(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val ids = vs.map(_._1)
    val codes: Map[(Long, Int), Int] = (for (id <- ids; m <- 0 until 8) yield {
      val best = (0 until 16).map(j => (d2(sub(id, m), sub(j.toLong, m)), j)).min
      (id, m) -> best._2
    }).toMap
    (for (qid <- ids.filter(_ < 5)) yield {
      val cands = ids.filterNot(_ == qid).map { cid =>
        val adc = (0 until 8).map(m => d2(sub(qid, m), sub(codes((cid, m)).toLong, m))).sum
        (cid, adc.toLong)
      }
      cands.sortBy { case (cid, adc) => (adc, cid) }.take(10).zipWithIndex
        .map { case ((cid, adc), r) => (qid, cid, adc, r + 1) }
    }).flatten
  }

  test("distributed PQ pipeline matches the plain-Scala reference row-for-row") {
    val s = spark
    import s.implicits._
    val df = fix.toDF("vec_id", "embedding")
    val got = Similarity.pqTopK(df).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    assert(got == reference(fix))
  }

  test("partition-layout independence") {
    val s = spark
    import s.implicits._
    val a = Similarity.pqTopK(fix.toDF("vec_id", "embedding").repartition(1))
      .collect().toSeq
    val b = Similarity.pqTopK(fix.toDF("vec_id", "embedding").repartition(13))
      .collect().toSeq
    assert(a == b)
  }

  test("gate face at sf0.001: 10 ranked rows per probe, adc non-decreasing") {
    val rows = Similarity.pqTopKGate(spark, "/root/testdata/sf0.001").collect()
    assert(rows.length == 50)
    rows.grouped(10).foreach { g =>
      assert(g.map(_.getInt(3)).toSeq == (1 to 10))
      val adcs = g.map(_.getLong(2)).toSeq
      assert(adcs == adcs.sorted)
    }
  }
}
