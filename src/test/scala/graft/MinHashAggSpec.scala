package graft

import graft.functions.MinHashAgg
import graft.functions.MinHashAgg.minhashSig
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** One-pass MinHash aggregate: signature correctness against a reference
  * computation, partition-invariance (merge correctness), and set
  * semantics (signature depends on the distinct element set). */
class MinHashAggSpec extends AnyFunSuite with SparkFixture {

  private def sigOf(items: Seq[String], partitions: Int): Seq[Long] = {
    val s = spark
    import s.implicits._
    items.toDF("x").repartition(partitions)
      .agg(minhashSig(col("x"), 8).as("sig"))
      .head().getAs[scala.collection.Seq[Long]]("sig").toSeq
  }

  test("signature matches the double-hash family definition") {
    val agg = MinHashAgg(null, 8)
    val buf = agg.createAggregationBuffer()
    // reference computation in plain scala
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val items = Seq("a", "b", "c", "dd")
    val expected = Array.fill(8)(Long.MaxValue)
    items.foreach { it =>
      val u = UTF8String.fromString(it)
      val h1 = XxHash64Function.hash(u, StringType, 42L)
      val h2 = XxHash64Function.hash(u, StringType, 0x9e3779b9L) | 1L
      var h = h1
      for (i <- 0 until 8) { if (h < expected(i)) expected(i) = h; h += h2 }
    }
    assert(sigOf(items, 1) == expected.toSeq)
  }

  test("partition count does not change the signature (merge is correct)") {
    val items = (1 to 500).map(i => s"shingle-$i")
    assert(sigOf(items, 1) == sigOf(items, 7))
  }

  test("serialize/deserialize round-trips the buffer") {
    val agg = MinHashAgg(null, 8)
    val buf = Array(1L, -2L, Long.MaxValue, 0L, 42L, Long.MinValue, 7L, 9L)
    assert(agg.deserialize(agg.serialize(buf)).toSeq == buf.toSeq)
  }

  test("similar sets → close signatures (estimator sanity)") {
    val a = (1 to 100).map(i => s"s$i")
    val b = (1 to 95).map(i => s"s$i") ++ (1 to 5).map(i => s"t$i") // ~90% jaccard
    val k = 64
    val s = spark
    import s.implicits._
    def sig(xs: Seq[String]) = xs.toDF("x")
      .agg(minhashSig(col("x"), k)).head().getSeq[Long](0)
    val (sa, sb) = (sig(a), sig(b))
    val matches = sa.zip(sb).count { case (x, y) => x == y }
    assert(matches.toDouble / k > 0.6, s"est jaccard ${matches.toDouble / k}")
  }
}
