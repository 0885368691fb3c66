package graft.tools

import graft.Tables
import graft.ops.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** q149 floor decomposition (r12 verdict item 7), the q57
  * `StreamJoinProfile` convention: isolate the fixed micro-batch
  * machinery from the per-stage data work so BASELINE.md can state what
  * the gate number is MADE OF.
  *
  * Legs (each timed over `reps` warm repetitions, min reported):
  *  - `stream_passthrough`: the same 3-wave file delivery driven through
  *    foreachBatch with a count-only body — source listing, micro-batch
  *    scheduling, checkpoint commits; the floor no admission logic can
  *    go below.
  *  - `full_q149`: the shipped operator.
  *  - batch-mode stage costs, per wave on the same slices the stream
  *    sees: signature computation + staged write (`sign_stage`), the
  *    corpus band-join + est-Jaccard verify (`corpus_verify`), and the
  *    verdict + admitted-state writes (`state_commit` — one partitioned
  *    overwrite after the r13 rework, was three appends).
  *
  * Usage: AdmissionProfile <sfDir> [reps]
  */
object AdmissionProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 2
    val spark = graft.Session.tool(sfDir)

    def timeMin(label: String)(body: => Unit): Unit = {
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }
      println(f"$label%-20s min ${ts.min}%6.2f s  (all: ${ts.map(t => f"$t%.2f").mkString(", ")})")
    }

    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val newDocs = docs.where(col("doc_id") % 7 === 0)
    val corpus = docs.where(col("doc_id") % 7 =!= 0)

    // ---- full operator ----
    timeMin("full_q149") {
      graft.ops.Pipelines.streamDedupAdmission(spark, sfDir).count(); ()
    }

    // ---- stream passthrough: same delivery, count-only body ----
    timeMin("stream_passthrough") {
      val base = "target/tmp/sda_passthru"
      scala.reflect.io.Path(new java.io.File(base)).deleteRecursively()
      (0 until 3).foreach { i =>
        newDocs.where(pmod(col("doc_id"), lit(3)) === i)
          .coalesce(1).write.mode("append").parquet(s"$base/in")
      }
      var n = 0L
      val q = spark.readStream.schema(newDocs.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/in")
        .writeStream.foreachBatch { (b: DataFrame, _: Long) =>
          n += b.count(); ()
        }.option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(600000L); ()
    }

    // ---- batch-mode stages over the same wave slices ----
    val stg = "target/tmp/sda_stages"
    scala.reflect.io.Path(new java.io.File(stg)).deleteRecursively()
    Dedup.minhashSig(corpus).write.mode("overwrite").parquet(s"$stg/sig")
    val idxSig = spark.read.parquet(s"$stg/sig")
    Dedup.sigBands(idxSig).write.mode("overwrite").parquet(s"$stg/bands")
    val waves = (0 until 3).map(i =>
      newDocs.where(pmod(col("doc_id"), lit(3)) === i))

    timeMin("sign_stage") {
      waves.zipWithIndex.foreach { case (w, i) =>
        Dedup.minhashSig(w).write.mode("overwrite").parquet(s"$stg/bsig_$i")
      }
    }
    timeMin("corpus_verify") {
      waves.indices.foreach { i =>
        val bsig = spark.read.parquet(s"$stg/bsig_$i")
        val bbands = Dedup.sigBands(bsig)
          .select(col("doc_id").as("new_doc"), col("band"), col("bandhash"))
        spark.read.parquet(s"$stg/bands")
          .select(col("doc_id").as("other"), col("band"), col("bandhash"))
          .join(broadcast(bbands), Seq("band", "bandhash"))
          .select(col("new_doc"), col("other")).distinct()
          .join(broadcast(bsig.select(col("doc_id").as("new_doc"),
            col("sig").as("nsig"))), "new_doc")
          .join(spark.read.parquet(s"$stg/sig")
            .select(col("doc_id").as("other"), col("sig").as("osig")), "other")
          .withColumn("est",
            aggregate(zip_with(col("nsig"), col("osig"),
                (x, y) => when(x === y, 1).otherwise(0)),
              lit(0), (acc, v) => acc + v).cast("double") / Dedup.K)
          .where(col("est") >= 0.5)
          .groupBy(col("new_doc")).agg(count(lit(1))).count(); ()
      }
    }
    timeMin("state_commit") {
      waves.indices.foreach { i =>
        spark.read.parquet(s"$stg/bsig_$i").write.mode("overwrite")
          .parquet(s"$stg/adm_sig/batch=$i")
      }
    }
    spark.stop()
  }
}
