package graft

import graft.ops.{Ivf, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the shared IVF core ([[Ivf]]) every ANN face composes: probing
  * every cell of the grid is the exact brute-force top-k, and the cell
  * layout holds exactly one file per cell. */
class IvfSpec extends AnyFunSuite with SparkFixture {

  private val sf = "/root/testdata/sf0.01"

  test("full probe: every cell of the fixed grid returns exactly quantizedTopK") {
    val k = 10
    val nCells = Ivf.fixedCells(Ivf.quantizedEmbeddings(spark, sf)).count().toInt
    assert(nCells > 1)
    val cols = Seq("qid", "cid", "dot", "rank").map(col)
    val probed = Similarity.ivfTopKMultiProbe(spark, sf, k, nprobe = nCells)
      .select(cols: _*).collect().toSeq
    val brute = Similarity.quantizedTopK(spark, sf, k).select(cols: _*).collect().toSeq
    assert(brute.length == 5 * k)
    assert(probed == brute)
    assert(!probed.exists(r => r.getLong(0) == r.getLong(1)), "a probe returned itself")
  }

  test("cell layout: exactly one parquet file under each cent_id= dir") {
    val qe = Ivf.quantizedEmbeddings(spark, sf)
    assert(qe.rdd.getNumPartitions > 1) // else one file per cell is vacuous
    val routed = Ivf.assignCells(spark, qe, Ivf.fixedCells(qe))
      .select(col("vec_id"), col("cent_id"))
    val dir = Scratch.fresh("ivf_spec_cells")
    Ivf.writeCells(routed, dir)
    val cells = new java.io.File(dir).listFiles().filter(_.getName.startsWith("cent_id="))
    assert(cells.length == routed.select(col("cent_id")).distinct().count())
    cells.foreach { c =>
      assert(c.listFiles().count(_.getName.endsWith(".parquet")) == 1, c.getName)
    }
    assert(spark.read.parquet(dir).count() == qe.count())
  }
}
