package graft

import graft.functions.GramAgg.gramUpper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the one-pass Gram-matrix aggregate (q120): hand-computed
  * fixture, map-side merge correctness across partitions, the positional
  * upper-triangle layout contract the face unpacks by, and agreement
  * with the explode-and-groupBy formulation the DuckDB oracle runs. */
class GramSpec extends AnyFunSuite with SparkFixture {

  private def gram(vecs: Seq[Seq[Double]], d: Int, parts: Int = 4): Seq[Long] = {
    val s = spark
    import s.implicits._
    vecs.toDF("v").repartition(parts)
      .agg(gramUpper(col("v"), d).as("g"))
      .collect().head.getSeq[Long](0)
  }

  test("hand-computed 3-dim fixture") {
    // [1,2,3] and [4,5,6]: upper triangle row-major
    //   (0,0)=1+16  (0,1)=2+20  (0,2)=3+24
    //               (1,1)=4+25  (1,2)=6+30
    //                           (2,2)=9+36
    assert(gram(Seq(Seq(1d, 2d, 3d), Seq(4d, 5d, 6d)), 3) ==
      Seq(17L, 22L, 27L, 29L, 36L, 45L))
  }

  test("negative components: exact signed products") {
    assert(gram(Seq(Seq(-2d, 3d)), 2) == Seq(4L, -6L, 9L))
  }

  test("merge across partitions: 1 vs 8 partitions identical") {
    val vecs = (0 until 64).map(i => (0 until 8).map(j => ((i * 7 + j * 3) % 11 - 5).toDouble))
    assert(gram(vecs, 8, 1) == gram(vecs, 8, 8))
  }

  test("face layout: positional unpack equals brute-force explode") {
    val s = spark
    import s.implicits._
    // brute force over the same sf0.001 quantized vectors
    val qe = graft.ops.Ivf.quantizeInt8(
      Tables.embeddings(spark, "/root/testdata/sf0.001"))
    // cheap local cross: collect is fine at sf0.001
    val vecs = qe.select(col("q8")).collect().map(_.getSeq[Double](0))
    val d = vecs.head.size
    val expect = for (i <- 0 until d; j <- i until d)
      yield (i, j, vecs.map(v => v(i).toLong * v(j).toLong).sum)
    val got = graft.ops.Similarity.gramMatrix(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got == expect)
  }
}
