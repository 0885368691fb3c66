package graft

import graft.ops.Relational
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for AMS join-size estimation (q110): the exact leg equals a
  * direct join count, the estimate is layout-independent (exact-integer
  * sums), positive (the integer-div precondition the gate relies on),
  * and lands within a sane error envelope of the truth on real data. */
class AmsSpec extends AnyFunSuite with SparkFixture {

  private val sf = "/root/testdata/sf0.001"

  test("exact leg equals the executed join; estimate positive and within envelope") {
    val row = Relational.amsJoinSize(spark, sf).collect().head
    val (exact, est) = (row.getLong(1), row.getLong(2))
    // exact leg vs actually executing the join
    val li = Tables.lineitem(spark, sf)
    val a = li.where(col("l_shipdate") < lit("1996-01-01"))
      .select(col("l_partkey").as("k"))
    val b = li.where(col("l_shipdate") >= lit("1996-01-01"))
      .select(col("l_partkey").as("k2"))
    val joined = a.join(b, col("k") === col("k2")).count()
    assert(exact == joined, s"exact leg $exact != executed join $joined")
    assert(est > 0, "integer-div precondition: estimator sum must be positive")
    // AMS with J=32: observed rel-error on this corpus ~15%; assert 2x headroom
    assert(math.abs(est - exact).toDouble / exact <= 0.60,
      s"estimate $est vs exact $exact — error beyond envelope")
  }

  test("estimate is exact-integer and layout-independent") {
    val r1 = Relational.amsJoinSize(spark, sf).collect().head.getLong(2)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", 13)
    val r2 = Relational.amsJoinSize(s2, sf).collect().head.getLong(2)
    assert(r1 == r2)
  }
}
