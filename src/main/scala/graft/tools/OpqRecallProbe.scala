package graft.tools

import org.apache.spark.sql.functions._

/** r16 probe: PQ recall@10 vs the exact int8 top-10, unrotated vs
  * OPQ-rotated encoding, on the q144 probe set — the measurement behind
  * the q199 recall spec (and the honest record if rotation only ties on
  * this synthetic corpus). Usage: OpqRecallProbe <sfDir> */
object OpqRecallProbe {
  def main(args: Array[String]): Unit = {
    val sf = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = graft.Session.tool(sf)
    import graft.ops.Similarity
    val truth = Similarity.quantizedTopK(spark, sf, 10)
      .select(col("qid"), col("cid"))
    def recall(pq: org.apache.spark.sql.DataFrame): Long = {
      val hits = truth.join(pq.select(col("qid"), col("cid")), Seq("qid", "cid")).count()
      1000000L * hits / truth.count()
    }
    val base = recall(Similarity.pqTopK(graft.Tables.embeddings(spark, sf)))
    val rot = recall(Similarity.pqTopK(Similarity.rotatedEmbeddings(spark, sf)))
    println(s"pq_recall_ppm base=$base rotated=$rot sf=$sf")
    spark.stop()
  }
}
