package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthesize a larger scale factor from the driver's sf0.1 testdata for
  * the cross-SF scale probe (BASELINE.md): union `copies` key-shifted
  * replicas of every fact table, preserving referential integrity and —
  * critically — the DATA PROPERTIES the similarity/dedup operators key
  * on, so per-query time ratios measure the operators, not an artifact
  * of cloning:
  *
  *  - every key column shifts by `copy * 10_000_000` (far above any
  *    source key), so joins fan out exactly 10× and never cross copies;
  *  - `documents.text` goes through a per-copy letter bijection
  *    (`translate` over a rotation of "abcdefghij", copy 0 = identity):
  *    WITHIN a copy shingle equality is untouched (same bijection on
  *    both sides), ACROSS copies shingles differ, so the planted
  *    near-dup pair density stays constant instead of every doc gaining
  *    9 exact clones (which would inflate pair counts ~45× and make a
  *    linear join look quadratic);
  *  - `embeddings.embedding` is cyclically rotated by `copy` positions —
  *    norms and within-copy cosines are exactly preserved, cross-copy
  *    cosines drop to background level, same reasoning;
  *  - dimension tables (region, nation) are copied verbatim: in a real
  *    10× scale-up the dims don't grow, and every copy's foreign keys
  *    still resolve.
  *
  * The output is a TIMING corpus only (the oracle gate runs at sf0.01);
  * it is written under target/ and never committed.
  *
  * Usage: graft.tools.ScaleUp [srcDir] [outDir] [copies] [tables]
  * `tables` is an optional comma-separated subset (default: all) — the
  * fifth-decade (sf100) probe only exercises the documents-based dedup
  * family, and cloning 600M lineitem rows nobody reads would waste most
  * of the scratch budget.
  */
object ScaleUp {

  private val Stride = 10000000L
  // FULL lowercase alphabet: a partial rotation (first 10 letters only)
  // left words composed of k-z letters identical across copies, so
  // word-hash-based signatures (simhash) stayed correlated and every
  // cross-copy clone pair fell within the hamming threshold — the pair
  // OUTPUT grew quadratically with copies (measured 10× pairs for 3×
  // data) and made a complete, linear-shaped operator read superlinear.
  // Rotating all 26 letters decorrelates cross-copy words entirely while
  // keeping within-copy equality exact (it is still a bijection).
  private val Alpha = "abcdefghijklmnopqrstuvwxyz"

  def main(args: Array[String]): Unit = {
    val src = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "target/sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val only: String => Boolean =
      if (args.length > 3) args(3).split(",").toSet else (_ => true)

    val spark = graft.Session.tool(src)
    // events.parquet carries TIMESTAMP(NANOS); keep it a long and write
    // it back as a long — Tables.events does the div-1000 conversion
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def replicate(table: String, keyCols: Seq[String], outParts: Int)(
        perCopy: (DataFrame, Int) => DataFrame = (df, _) => df): Unit = {
      if (!only(table)) return
      val base = spark.read.parquet(s"$src/$table.parquet")
      val unioned = (0 until copies).map { c =>
        val shifted = keyCols.foldLeft(base)(
          (df, k) => df.withColumn(k, col(k) + lit(c * Stride)))
        perCopy(shifted, c)
      }.reduce(_ unionAll _)
      // partition count scales with volume past the 100-copy design
      // point (1000 copies in 8 files = 2 GB+ per file otherwise)
      unioned.repartition(outParts * math.max(1, copies / 100))
        .write.mode("overwrite").parquet(s"$out/$table.parquet")
      println(s"[scaleup] $table x$copies -> $out/$table.parquet")
    }

    Seq("region", "nation").filter(only).foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    replicate("customer", Seq("c_custkey"), 8)()
    replicate("supplier", Seq("s_suppkey"), 4)()
    replicate("part", Seq("p_partkey"), 8)()
    replicate("orders", Seq("o_orderkey", "o_custkey"), 16)()
    replicate("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"), 32)()
    replicate("events", Seq("event_id", "user_id"), 16)()
    // Pure rotations repeat after 26 copies — copies 26 apart would share
    // the bijection, re-correlating cross-copy words (the exact synthesis
    // artifact round 4 fixed for ≤ 30 copies). An AFFINE permutation
    // i → (a·i + b) mod 26 with a coprime to 26 gives 12×26 = 312 distinct
    // bijections; a = 1 for the first 26 copies keeps the old rotation
    // family (sf1/sf3 probes unchanged).
    val coprimes = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
    replicate("documents", Seq("doc_id"), 8) { (df, c) =>
      val mapped =
        if (c < 312) {
          val a = coprimes((c / 26) % coprimes.length)
          val b = c % 26
          (0 until 26).map(i => Alpha((a * i + b) % 26)).mkString
        } else {
          // the affine family exhausts at 12×26 = 312 copies — copies 312
          // apart would share a bijection and become byte-identical text
          // clones (the r4/r5 artifact class at the fifth decade). Beyond
          // 312, a seeded Fisher–Yates permutation (26! ≫ any copy count)
          // keeps every copy's bijection distinct; copies < 312 keep the
          // affine family so sf1/sf10/sf30 probes stay comparable.
          val arr = Alpha.toCharArray
          val rnd = new java.util.Random(0x5ca1eab1eL + c)
          for (i <- 25 to 1 by -1) {
            val j = rnd.nextInt(i + 1)
            val t = arr(i); arr(i) = arr(j); arr(j) = t
          }
          new String(arr)
        }
      df.withColumn("text", translate(col("text"), Alpha, mapped))
    }
    // Rotation repeats after 64 copies (and slice(…, 64-c) goes negative
    // past it); compose rotation c%64 with a sign flip on odd c/64 —
    // within-copy cosines are exactly preserved ((-a)·(-b) = a·b) while
    // copies 64 apart become anti-correlated instead of identical clones.
    replicate("embeddings", Seq("vec_id"), 4) { (df, c) =>
      val r = c % 64
      val rotated =
        if (r == 0) df
        else df.withColumn("embedding",
          concat(expr(s"slice(embedding, ${r + 1}, ${64 - r})"),
            expr(s"slice(embedding, 1, $r)")))
      if ((c / 64) % 2 == 0) rotated
      else rotated.withColumn("embedding",
        expr("transform(embedding, x -> -x)"))
    }
    spark.stop()
  }
}
