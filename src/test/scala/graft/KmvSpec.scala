package graft

import graft.functions.KmvAgg.kmvSketch
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the KMV bottom-k distinct sketch (q101): the properties the
  * gate data can't isolate — duplicate immunity (a hot key must occupy
  * ONE slot, the whole point vs a plain top-k), layout independence of
  * the merged minima, exact passthrough below k, and the estimator's
  * accuracy envelope at the face's k. */
class KmvSpec extends AnyFunSuite with SparkFixture {

  private def hash(c: org.apache.spark.sql.Column) =
    conv(substring(md5(concat(lit("kmv|"), c.cast("string"))), 1, 15), 16, 10)
      .cast("long")

  private def minima(keys: Seq[Long], k: Int, parts: Int = 4): Seq[Long] = {
    val s = spark
    import s.implicits._
    keys.toDF("k").repartition(parts)
      .agg(kmvSketch(hash(col("k")), k).as("arr"))
      .collect().head.getSeq[Long](0)
  }

  test("kmv: below k the sketch IS the exact distinct hash set, ascending") {
    val got = minima((1L to 100L) ++ (1L to 100L), k = 256)
    assert(got.size == 100)
    assert(got == got.sorted)
  }

  test("kmv: a hot key fills ONE slot no matter its frequency or layout") {
    val base = (1L to 400L)
    val hot = base ++ Seq.fill(5000)(7L)
    assert(minima(hot, k = 64) == minima(base, k = 64))
    assert(minima(hot, k = 64, parts = 13) == minima(base, k = 64, parts = 1))
  }

  test("kmv: estimator within 3 rsd (k=256) on 10k distinct keys") {
    val k = 256
    val arr = minima(1L to 10000L, k)
    assert(arr.size == k)
    val est = (BigInt(k - 1) * (BigInt(1) << 60) / BigInt(arr.last)).toLong
    // rsd ~ 1/sqrt(k-2) ~ 6.3%; 3 sigma ~ 19%
    assert(math.abs(est - 10000L) < 1900, s"est=$est")
  }
}
