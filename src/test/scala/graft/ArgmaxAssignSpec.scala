package graft

import graft.functions.{ArgmaxExprs, CentroidMatrix}
import graft.ops.{Ivf, Similarity}
import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** r13 (r12 verdict item 1): the IVF cell assignment must be a pure
  * broadcast-argmax MAP — no n×cells fan-out join, no aggregate, no
  * sort anywhere in the assignment subtree. These specs pin (a) the
  * semantics of [[ArgmaxExprs.ArgmaxDotCell]] against the reference
  * `max_by(cent_id, struct(dot, -cent_id))` fan-out formulation it
  * replaced (including the tie → smallest-cent_id rule), and (b) the
  * physical plan shape: `argmax_dot_cell` in a codegen'd Project,
  * zero Sort/SortAggregate/Window/Join nodes in the assignment plan. */
class ArgmaxAssignSpec extends AnyFunSuite with SparkFixture {

  private val sf = "/root/testdata/sf0.001"

  private def argmaxCol(c: Column, m: CentroidMatrix): Column =
    GraftBridge.column(ArgmaxExprs.ArgmaxDotCell(
      GraftBridge.expression(c), spark.sparkContext.broadcast(m)))

  test("ArgmaxDotCell matches the max_by fan-out formulation on real vectors") {
    val qe = Ivf.quantizedEmbeddings(spark, sf)
    val centRows = qe.where(col("vec_id") % 100 === 1)
      .select(col("vec_id"), col("q8")).collect().sortBy(_.getLong(0))
    val dims = centRows.head.getSeq[Double](1).length
    val flat = centRows.flatMap(_.getSeq[Double](1))
    val m = CentroidMatrix(centRows.map(_.getLong(0)), flat, dims)
    val got = qe.select(col("vec_id"), argmaxCol(col("q8"), m).as("cent_id"))
    // reference: the r12 fan-out + ordered-struct max_by it replaced
    val cent = qe.where(col("vec_id") % 100 === 1)
      .select(col("vec_id").as("cent_id"), col("q8").as("cq"))
    val want = qe.join(broadcast(cent))
      .select(col("vec_id"), col("cent_id"),
        graft.functions.VectorExprs.vecDot(col("q8"), col("cq"))
          .cast("long").as("cdot"))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cent_id"), struct(col("cdot"), -col("cent_id"))).as("cent_id"))
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
    assert(got.count() == qe.count())
  }

  test("ArgmaxDotCell breaks exact-dot ties to the SMALLEST cent_id") {
    // two identical centroids under different ids: every vector ties
    val s2 = spark
    import s2.implicits._
    val v = Seq((1L, Array(1.0, 2.0)), (2L, Array(-3.0, 5.0)))
      .toDF("vec_id", "q8")
    val m = CentroidMatrix(Array(7L, 9L), Array(1.0, 1.0, 1.0, 1.0), 2)
    val out = v.select(argmaxCol(col("q8"), m).as("cent_id"))
      .collect().map(_.getLong(0))
    assert(out.forall(_ == 7L))
  }

  test("assignment plans as a codegen'd map: no Sort/Window/Join/Aggregate in the subtree") {
    val qe = Ivf.quantizedEmbeddings(spark, sf)
    val centRows = qe.where(col("vec_id") % 100 === 1)
      .select(col("vec_id"), col("q8")).collect().sortBy(_.getLong(0))
    val dims = centRows.head.getSeq[Double](1).length
    val m = CentroidMatrix(centRows.map(_.getLong(0)),
      centRows.flatMap(_.getSeq[Double](1)), dims)
    val assigned = qe.select(col("vec_id"), argmaxCol(col("q8"), m).as("cent_id"))
    assigned.count() // execute so AQE finalizes
    val plan = assigned.queryExecution.executedPlan.toString
    assert(plan.contains("argmax_dot_cell"), s"expression missing:\n$plan")
    for (bad <- Seq("Sort", "Window", "Join", "Aggregate", "Exchange"))
      assert(!plan.contains(bad), s"assignment plan contains $bad:\n$plan")
    // `*(n)` is the simple-string marker for a WholeStageCodegen span
    assert("""\*\(\d+\) Project \[.*argmax_dot_cell""".r
      .findFirstIn(plan).isDefined, s"project not codegen'd:\n$plan")
  }

  test("q152 gate face carries no SortAggregate/WindowGroupLimit (the r12 plan knee)") {
    val out = Similarity.ivfBalanceAudit(spark, sf, centStride = 100)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("argmax_dot_cell"), s"expression missing:\n$plan")
    assert(!plan.contains("SortAggregate"), s"SortAggregate back in plan:\n$plan")
    assert(!plan.contains("WindowGroupLimit"), s"window argmax back in plan:\n$plan")
  }
}
