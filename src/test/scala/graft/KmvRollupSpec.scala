package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the KMV sketch roll-up (q125): the roll-up theorem —
  * bottom-k of a union of bottom-ks equals bottom-k of the union —
  * checked on the face (rollup row ≡ direct row), per-group estimates
  * sane vs exacts, and the saturation/exact regimes both present. */
class KmvRollupSpec extends AnyFunSuite with SparkFixture {

  test("roll-up row is bit-equal to the direct global row") {
    val rows = graft.ops.Relational.kmvRollup(spark, "/root/testdata/sf0.01")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows("zz_rollup") == rows("zz_direct"),
      s"rollup ${rows("zz_rollup")} != direct ${rows("zz_direct")}")
  }

  test("unsaturated groups estimate exactly; estimates track exacts") {
    val rows = graft.ops.Relational.kmvRollup(spark, "/root/testdata/sf0.001")
      .collect()
    rows.foreach { r =>
      val (est, exact) = (r.getLong(1), r.getLong(2))
      // sf0.001 custkey cardinality is far below k=256: the sketch never
      // saturates and the estimate IS the exact count
      assert(est == exact, s"${r.getString(0)}: est $est != exact $exact")
    }
  }

  test("saturated regime: global estimate within 3 rsd of exact at sf0.1") {
    val rows = graft.ops.Relational.kmvRollup(spark, "/root/testdata/sf0.1")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val (est, exact) = rows("zz_direct")
    if (exact > 256) { // saturated only when cardinality clears k
      val rsd = 1.0 / math.sqrt(255)
      assert(math.abs(est - exact).toDouble / exact <= 3 * rsd,
        s"global est $est vs exact $exact outside 3 rsd")
    }
    assert(rows("zz_rollup") == rows("zz_direct"))
  }
}
