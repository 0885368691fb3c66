package graft

import graft.ops.{Curation, Sampling, Similarity}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Round-16 operators: retrieval nDCG (q195), HTML strip (q196),
  * atomic FFD bin packing (q197/q198), OPQ rotation (q199).
  *
  * Load-bearing assertions:
  *  - the hand fixture where two retrievals TIE on MRR (same
  *    first-relevant rank) but nDCG separates them — the reason the
  *    metric exists;
  *  - ffdPack IS first-fit-decreasing: bit-identical to a doc-at-a-time
  *    reference implementation on randomized fixtures, bins never
  *    overflow, every bin is nonempty;
  *  - the q49-vs-q197 production tradeoff quantified on real data:
  *    concat-and-chunk splits docs and wastes nothing, the atomic pack
  *    splits nothing and pays bounded padding;
  *  - HTML canaries: page-skeleton docs come back KEPT with the tag
  *    count the skeleton predicts, nav-chrome docs are DROPPED, clean
  *    docs pass through untouched;
  *  - OPQ invariants: the quantized basis is orthonormal on the grid,
  *    the projection-energy identity Σ_vec y_c² = λ̂_c holds EXACTLY
  *    (integers), and on an anisotropic fixture (correlated dims — the
  *    case OPQ exists for) PQ recall on the rotated grid beats PQ on
  *    the raw grid. On the isotropic gate corpus rotation ties/hurts —
  *    measured honestly by tools/OpqRecallProbe, recorded in
  *    probe_r16.txt — which is exactly what the literature predicts
  *    (Ge et al. 2013 §5: gains come from anisotropy).
  */
class R16OpsSpec extends AnyFunSuite with SparkFixture {

  private val sf = "/root/testdata/sf0.001"

  // ---------------------------------------------------------------- q195

  test("ndcg separates two retrievals that MRR ties") {
    val sp0 = spark; import sp0.implicits._
    // both retrievals: first relevant hit at rank 2 -> identical MRR.
    // A puts the HIGH-grade hit (gain 3) at rank 2, B the low one.
    val graded = Seq(
      (1L, 10L, 1L, 0L), (1L, 11L, 2L, 3L), (1L, 12L, 3L, 1L), // A
      (2L, 20L, 1L, 0L), (2L, 21L, 2L, 1L), (2L, 22L, 3L, 3L)  // B
    ).toDF("qid", "cid", "rank", "gain")
    val out = Similarity.ndcgOn(graded).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    // w(rank) = 6 div ilog2(rank+1): ranks 1,2 -> 6; rank 3 -> 3
    assert(out(1L) == ((21L, 24L, 875000L)), s"A: ${out(1L)}")
    assert(out(2L) == ((15L, 24L, 625000L)), s"B: ${out(2L)}")
    assert(out(1L)._3 > out(2L)._3)
  }

  test("ndcg gate face: ppm bounded, idcg >= dcg, deterministic") {
    val rows = Similarity.retrievalNdcg(spark, sf).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val (dcg, idcg, ppm) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(idcg >= dcg && ppm <= 1000000L && ppm >= 0L)
    }
  }

  // ---------------------------------------------------------- q197/q198

  /** Doc-at-a-time reference first-fit: items desc by length (ties in
    * given order), each into the lowest-index bin with room. */
  private def referenceFfd(lens: Seq[Long], cap: Long): Seq[Long] = {
    val bins = scala.collection.mutable.ArrayBuffer.empty[Long]
    lens.map { l =>
      val i = bins.indexWhere(_ + l <= cap)
      if (i >= 0) { bins(i) += l; i.toLong }
      else { bins += l; (bins.size - 1).toLong }
    }
  }

  test("ffdPack is exact first-fit-decreasing (vs doc-level reference)") {
    val cap = 64L
    val rnd = new scala.util.Random(7)
    (1 to 20).foreach { trial =>
      val hist = (1 to (5 + rnd.nextInt(20))).map(_ =>
        (1L + rnd.nextInt(cap.toInt), 1L + rnd.nextInt(40))).toMap.toSeq
      val (alloc, nBins) = Sampling.ffdPack(hist, cap)
      // expand the interval map to a doc-level assignment: the k-th doc
      // of length l (k 1-based) -> its interval's bin arithmetic
      val got = hist.sortBy(-_._1).flatMap { case (l, c) =>
        (1L to c).map { k =>
          val a = alloc.find(a =>
            a.len == l && k >= a.rankStart && k <= a.rankEnd).get
          a.binStart + (k - a.rankStart) / a.docsPerBin
        }
      }
      val want = referenceFfd(
        hist.sortBy(-_._1).flatMap { case (l, c) => Seq.fill(c.toInt)(l) },
        cap)
      assert(got == want, s"trial $trial: interval pack != reference FFD")
      // invariants: no overflow, every bin nonempty, ids dense
      val loads = got.zip(hist.sortBy(-_._1)
        .flatMap { case (l, c) => Seq.fill(c.toInt)(l) })
        .groupBy(_._1).view.mapValues(_.map(_._2).sum)
      assert(loads.values.forall(_ <= cap))
      assert(loads.keySet == (0L until nBins).toSet)
    }
  }

  test("q49 vs q197: the split-vs-padding tradeoff, quantified") {
    // concat-and-chunk (q49): zero padding, but docs straddle windows
    val sp = Sampling.sequencePack(spark, sf)
      .where(col("n_tokens") > 0)
      .select(
        (col("start_tok") / 512).cast("long").as("b0"),
        ((col("start_tok") + col("n_tokens") - 1) / 512).cast("long").as("b1"))
    val splitDocs = sp.where(col("b1") > col("b0")).count()
    assert(splitDocs > 0L, "q49 must split at least one doc at sf0.001")
    // atomic pack (q197/q198): zero splits BY CONSTRUCTION (each doc
    // appears exactly once, in exactly one bin), bounded padding
    val pack = Sampling.packAtomic(spark, sf)
    assert(pack.groupBy(col("doc_id")).count()
      .where(col("count") > 1).count() == 0L)
    val led = Sampling.packLedger(spark, sf).head()
    val waste = led.getAs[Long]("waste_ppm")
    assert(waste >= 0L && waste < 200000L,
      s"padding waste $waste ppm — FFD should stay under 20% on this corpus")
    // no bin over capacity on real data either
    val over = pack.groupBy(col("bin")).agg(sum(col("len")).as("s"))
      .where(col("s") > Sampling.PackCap).count()
    assert(over == 0L)
    info(s"tradeoff at sf0.001: q49 splits $splitDocs docs / 0 padding; " +
      s"q197 splits 0 docs / $waste ppm padding")
  }

  test("pack apply (q201) reconciles with the ledger (q198) exactly") {
    val app = Sampling.packApply(spark, sf).collect()
    val led = Sampling.packLedger(spark, sf).head()
    assert(app.map(_.getAs[Long]("n_docs")).sum == led.getAs[Long]("n_docs"))
    assert(app.map(_.getAs[Long]("used_tokens")).sum ==
      led.getAs[Long]("used_tokens"))
    assert(app.length.toLong == led.getAs[Long]("n_bins"))
    app.foreach { r =>
      assert(r.getAs[Long]("used_tokens") + r.getAs[Long]("pad_tokens")
        == Sampling.PackCap)
    }
    // sequences are real content: distinct per bin (md5 collisions across
    // 50-odd bins would mean the concat produced identical streams)
    assert(app.map(_.getAs[String]("seq_md5")).distinct.length == app.length)
  }

  test("opq-pq (q200) emits a full ranked top-10 per probe") {
    val rows = Similarity.opqPqTopK(spark, sf).collect()
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    assert(byQ.keySet == Set(0L, 1L, 2L, 3L, 4L))
    byQ.values.foreach { g =>
      assert(g.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to 10))
    }
  }

  // ---------------------------------------------------------------- q196

  test("html strip: skeleton canaries kept, nav-chrome dropped, clean docs untouched") {
    val out = Curation.htmlStrip(spark, sf).cache()
    try {
      // real docs: no tags, no anchors, all kept
      val real = out.where(col("doc_id") >= 0)
      assert(real.where(col("n_tags") =!= 0 || col("link_chars") =!= 0
        || !col("kept")).count() == 0L)
      // wrapped canaries (-id-10 ≡ 0 mod 10): the skeleton has exactly
      // 24 tags; prose dominates -> kept
      val wrapped = out.where(col("doc_id") < 0 && col("doc_id") % 10 === 0)
      assert(wrapped.count() > 0)
      assert(wrapped.where(col("n_tags") =!= 24 || !col("kept")).count() == 0L)
      // nav-only canaries (≡ 5 mod 10): 14 tags, anchor text dominates
      // -> dropped by link density
      val nav = out.where(col("doc_id") < 0 && abs(col("doc_id") % 10) === 5)
      assert(nav.count() > 0)
      assert(nav.where(col("n_tags") =!= 14 || col("kept")).count() == 0L)
      assert(nav.where(col("link_ppm") < Curation.LinkDensityMaxPpm).count() == 0L)
    } finally { out.unpersist(); () }
  }

  // ---------------------------------------------------------------- q199

  test("opq rotation: quantized basis orthonormal on the grid") {
    val dim = 64
    val rot = spark.read.parquet(Similarity.opqRotationDir(spark, sf))
      .collect()
    val rq = Array.ofDim[Long](dim, dim)
    rot.foreach(r => rq(r.getLong(0).toInt)(r.getLong(1).toInt) = r.getLong(2))
    val s2 = Similarity.RotScale * Similarity.RotScale
    for (a <- 0 until dim; b <- a until dim) {
      val dot = (0 until dim).map(i => rq(a)(i) * rq(b)(i)).sum
      if (a == b) assert(math.abs(dot - s2) < s2 / 100,
        s"diag($a) = $dot, want ~$s2")
      else assert(math.abs(dot) < s2 / 100, s"offdiag($a,$b) = $dot")
    }
  }

  test("opq projection-energy identity: sum of y^2 equals lambda-hat exactly") {
    // Σ_vec (v_q·x)² = v_qᵀ S v_q — exact INTEGER identity between the
    // distributed projection and the driver's Gram-derived λ̂
    val dim = 64
    val qe = Similarity.quantizeInt8(Tables.embeddings(spark, sf))
      .select(col("vec_id"), col("q8"))
    val sMat = Similarity.gramCollectFrame(qe, dim)
    val rotRows = spark.read.parquet(Similarity.opqRotationDir(spark, sf))
    val rq = Array.ofDim[Long](dim, dim)
    rotRows.collect().foreach(r =>
      rq(r.getLong(0).toInt)(r.getLong(1).toInt) = r.getLong(2))
    val lamHat = (0 until dim).map { c =>
      (for (i <- 0 until dim; j <- 0 until dim)
        yield BigInt(rq(c)(i)) * BigInt(sMat(i)(j)) * BigInt(rq(c)(j))).sum
    }
    val ys = Similarity.rotateFrameBy(qe, rotRows)
      .select(explode(col("embedding")).as("y")).collect()
      .map(_.getDouble(0))
    // group engine-side energies per comp: embedding arrays are in comp
    // order, so re-read with posexplode for the comp index
    val energies = Similarity.rotateFrameBy(qe, rotRows)
      .select(posexplode(col("embedding")).as(Seq("comp", "y")))
      .collect()
      .groupBy(_.getInt(0))
      .view.mapValues(_.map(r => BigInt(r.getDouble(1).toLong).pow(2)).sum)
    assert(ys.forall(y => y == math.rint(y)), "projections must be exact ints")
    (0 until dim).foreach(c =>
      assert(energies(c) == lamHat(c), s"comp $c: ${energies(c)} != ${lamHat(c)}"))
  }

  /** Deterministic anisotropic fixture: z with geometrically decaying
    * per-dim scale, mixed by the (exactly orthogonal) 64-point
    * Walsh–Hadamard transform so the signal's principal axes cut ACROSS
    * PQ's 8-dim subspace boundaries — the correlated-dims case OPQ
    * exists for. */
  private def anisotropicFixture(n: Int): DataFrame = {
    val dim = 64
    def had(i: Int, j: Int): Int =
      if (Integer.bitCount(i & j) % 2 == 0) 1 else -1
    def z(v: Int, i: Int): Double = {
      var h = (v.toLong << 32 | i.toLong) + 0x9e3779b97f4a7c15L
      h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
      h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
      val u = ((h ^ (h >>> 31)) & 0xfffff).toDouble / 0xfffff - 0.5
      u * math.pow(0.82, i)
    }
    val sp0 = spark; import sp0.implicits._
    (0 until n).map { v =>
      val zs = Array.tabulate(dim)(i => z(v, i))
      val x = Array.tabulate(dim)(j =>
        (0 until dim).map(i => had(i, j) * zs(i)).sum.toFloat / 8.0f)
      (v.toLong, x.toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("opq on anisotropic data: PQ recall on rotated grid >= raw grid") {
    import org.apache.spark.sql.expressions.Window
    val fix = anisotropicFixture(256).cache()
    try {
      val qe = Similarity.quantizeInt8(fix).select(col("vec_id"), col("q8"))
      // exact ground truth: int8-dot top-10 for the 5 standard probes
      val probes = qe.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("q8").as("qv"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("dot").desc, col("cid").asc)
      val truth = qe.join(broadcast(probes), col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("cid"),
          graft.functions.VectorExprs.vecDot(col("qv"), col("q8"))
            .cast("long").as("dot"))
        .withColumn("rk", row_number().over(w)).where(col("rk") <= 10)
        .select(col("qid"), col("cid")).cache()
      def recall(pq: DataFrame): Long =
        1000000L * truth.join(pq.select(col("qid"), col("cid")),
          Seq("qid", "cid")).count() / truth.count()
      val base = recall(Similarity.pqTopK(fix))
      val sp0 = spark; import sp0.implicits._
      val rot = Similarity.rotationRowsFor(
        Similarity.gramCollectFrame(qe, 64)).toDF("comp", "dim", "r")
      val rotated = recall(Similarity.pqTopK(Similarity.rotateFrameBy(qe, rot)))
      info(s"anisotropic PQ recall ppm: raw=$base rotated=$rotated")
      assert(rotated >= base,
        s"rotated recall $rotated < raw $base on anisotropic fixture")
      truth.unpersist(); ()
    } finally { fix.unpersist(); () }
  }

  // ---------------------------------------------------------------- q202

  test("matryoshka recall: d=64 is the identity anchor, truncated legs replay brute-force") {
    val out = Similarity.matryoshkaRecall(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out.size == 20, s"expected 4 dims x 5 probes, got ${out.size}")
    // the full-dim leg ranks by the same dot as the truth -> recall 1e6
    (0L to 4L).foreach { qid =>
      val (nt, nh, ppm) = out((64L, qid))
      assert(nt == 10 && nh == 10 && ppm == 1000000L,
        s"d=64 identity anchor broken for qid=$qid: ($nt, $nh, $ppm)")
    }
    // independent driver-side replay: collect the int8 grid, brute-force
    // every prefix ranking with the same (dot desc, cid asc) tie rule
    val vecs = Similarity.quantizedEmbeddings(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).map(_.toLong).toArray)
      .sortBy(_._1)
    def topk(qid: Long, d: Int): Seq[Long] = {
      val qv = vecs.find(_._1 == qid).get._2
      vecs.filter(_._1 != qid)
        .map { case (cid, v) =>
          (cid, (0 until d).map(i => qv(i) * v(i)).sum) }
        .sortBy { case (cid, dot) => (-dot, cid) }.take(10).map(_._1).toSeq
    }
    for (d <- Seq(8, 16, 32, 64); qid <- 0L to 4L) {
      val truth = topk(qid, 64).toSet
      val nh = topk(qid, d).count(truth)
      assert(out((d.toLong, qid))._2 == nh,
        s"replay mismatch at dims=$d qid=$qid: engine=${out((d.toLong, qid))._2} replay=$nh")
    }
  }

  // ---------------------------------------------------------------- q203

  test("k-center greedy: hand fixture selects farthest-first with id tie-break") {
    // 1-dim points: id1@0 id2@1 id3@10 id4@11 id5@30. Seed = id1.
    // Farthest from {0} is 30 (id5). Then min-d2: id3=100, id4=121 -> id4.
    // Then id2 and id3 both have min-d2 1 -> tie to the SMALLER id (id2).
    val cand = Array(
      1L -> Array(0L), 2L -> Array(1L), 3L -> Array(10L),
      4L -> Array(11L), 5L -> Array(30L))
    val sel = Similarity.kCenterGreedy(cand, 4).map(_._1)
    assert(sel == Seq(1L, 5L, 4L, 2L), s"selection order was $sel")
  }

  test("k-center coreset gate face replays against a plain-Scala reference") {
    val vecs = Similarity.quantizedEmbeddings(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).map(_.toLong).toArray)
      .sortBy(_._1)
    val cand = vecs.filter { case (id, _) => id % 100 == 0 && id < 6400 }
    val centers = Similarity.kCenterGreedy(cand, 8)
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    // reference assignment: nearest center, ties to smallest cent_id
    val byCenter = vecs.map { case (vid, v) =>
      centers.map { case (cid, cv) => (cid, d2(v, cv)) }
        .minBy { case (cid, dd) => (dd, cid) }
    }.groupBy(_._1).map { case (cid, xs) =>
      cid -> (xs.length.toLong, xs.map(_._2).max, xs.map(_._2).sum) }
    val out = Similarity.kCenterCoreset(spark, sf).collect()
    assert(out.map(_.getLong(0)).toSeq == (1L to centers.length).toSeq,
      "steps not contiguous in selection order")
    out.foreach { r =>
      val (n, rad, sd) = byCenter(r.getLong(1))
      assert((r.getLong(2), r.getLong(3), r.getLong(4)) == ((n, rad, sd)),
        s"center ${r.getLong(1)}: engine=(${r.getLong(2)},${r.getLong(3)},${r.getLong(4)}) ref=($n,$rad,$sd)")
    }
    // population covers the corpus exactly once
    assert(out.map(_.getLong(2)).sum == vecs.length.toLong)
  }

  // ---------------------------------------------------------------- q204

  test("jsonl round-trip: every row value-matches, canaries included, framing holds") {
    val out = ops.Pipelines.jsonlRoundtrip(spark, sf).collect()
    assert(out.nonEmpty)
    // every row (docs subset + the three escape canaries) matches on all
    // four value columns after write -> re-read
    out.foreach { r =>
      assert((2 to 5).forall(i => r.getLong(i - 1) == 1L),
        s"round-trip mismatch on doc_id=${r.getLong(0)}: $r")
    }
    assert(Seq(-3L, -2L, -1L).forall(id => out.exists(_.getLong(0) == id)),
      "escape canaries missing from the round-trip output")
    // framing: the artifact is LINE-delimited even though canary text
    // embeds \n and \r - the writer must escape control chars, so
    // #lines == #records and every line parses on its own
    val dir = new java.io.File(Scratch.path(ops.Pipelines.q204ArtifactName(sf)))
    val part = dir.listFiles().filter(_.getName.startsWith("part-")).head
    val lines = scala.io.Source.fromFile(part, "UTF-8").getLines().toSeq
    assert(lines.length == out.length,
      s"expected ${out.length} JSONL lines, found ${lines.length} - embedded newline broke framing")
    assert(lines.forall(l => l.startsWith("{") && l.endsWith("}")))
    // the multi-byte canary survives byte-exactly (md5 over UTF-8)
    val emoji = out.find(_.getLong(0) == -1L).get.getString(5)
    val expect = java.security.MessageDigest.getInstance("MD5")
      .digest("caf\u00e9 \u4e2d\u6587 \ud83d\ude00 ctlend".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(emoji == expect, s"canary md5 $emoji != $expect")
  }

  // ---------------------------------------------------------------- q205

  test("ahash: pixel-level replay, re-encode invariance, perturb sensitivity") {
    import graft.ops.Multimodal.JdkCodec
    // independent replay: the hash of the REAL PNG encode->decode path
    // must equal pure arithmetic over the pixel() closed form
    def refHash(id: Long): Long = {
      val (w, h) = (JdkCodec.imageWidth(id), JdkCodec.imageHeight(id))
      val v = for (j <- 0 until 8; i <- 0 until 8) yield {
        val x = math.min((2 * i + 1) * w / 16, w - 1)
        val y = math.min((2 * j + 1) * h / 16, h - 1)
        JdkCodec.pixel(id, x, y).toLong
      }
      val sum = v.sum
      v.zipWithIndex.foldLeft(0L) { case (acc, (s0, c)) =>
        if (64L * s0 >= sum) acc | (1L << c) else acc }
    }
    for (id <- Seq(0L, 3L, 6L, 9L, 42L, 123L)) {
      val png = JdkCodec.encodePng(id)
      val bmp = JdkCodec.encodeBmp(id)
      assert(JdkCodec.aHash(png) == refHash(id),
        s"aHash(png) != pixel-level replay for id=$id")
      // byte-different container, pixel-identical content -> same hash
      assert(!java.util.Arrays.equals(png, bmp), "png and bmp bytes identical?")
      assert(JdkCodec.aHash(bmp) == JdkCodec.aHash(png),
        s"re-encode changed the perceptual hash for id=$id")
      // the perturbed copy is near but NOT identical
      val ph = JdkCodec.aHash(JdkCodec.encodePngPerturbed(id))
      assert(ph != JdkCodec.aHash(png), s"perturbation invisible for id=$id")
    }
  }

  test("image dup pairs: exact-collapse classes, canary pairs present, banding complete") {
    import graft.ops.Multimodal
    val face = Multimodal.imageDupPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    // no Hamming-0 pair can appear: identical hashes collapsed into one class
    assert(face.values.forall(_._1 >= 1L), "exact-dup pair leaked past the collapse")
    // read the artifact and collapse classes independently
    val hashes = spark.read.parquet(Multimodal.ahashArtifactDir(spark, sf))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val classes = hashes.groupBy(_._2).map { case (h, xs) =>
      h -> (xs.map(_._1).min, xs.length.toLong) }
    def rep(id: Long): Long = classes(hashes.find(_._1 == id).get._2)._1
    for (id <- Multimodal.AHashCanaryIds) {
      // the BMP re-encode canary joined the original's class
      assert(rep(-(id + 1L)) == rep(id),
        s"BMP re-encode of $id not collapsed with the original")
      // the perturbed canary pairs with the original's rep IF within the
      // bound (id 0 is 4x4 - poking 2 of 16 pixels is a big edit, ham 24:
      // honestly out of range; ids 3 and 6 land at ham 2 and 1)
      val ham = java.lang.Long.bitCount(
        hashes.find(_._1 == -(id + 1001L)).get._2 ^
          hashes.find(_._1 == id).get._2).toLong
      if (ham <= 4) {
        val (a, b) = (math.min(rep(-(id + 1001L)), rep(id)),
          math.max(rep(-(id + 1001L)), rep(id)))
        assert(face.contains((a, b)), s"perturbed canary pair ($a,$b) missing")
        assert(face((a, b))._1 == ham)
      }
    }
    assert(Multimodal.AHashCanaryIds.exists { id =>
      java.lang.Long.bitCount(hashes.find(_._1 == -(id + 1001L)).get._2 ^
        hashes.find(_._1 == id).get._2) <= 4 },
      "no perturbed canary within the bound - the near-dup leg is unexercised")
    // banding completeness: brute-force over class reps == face output
    val reps = classes.values.toSeq
    val brute = (for {
      (ra, na) <- reps; (rb, nb) <- reps if ra < rb
      h = java.lang.Long.bitCount(
        classes.find(_._2._1 == ra).get._1 ^ classes.find(_._2._1 == rb).get._1).toLong
      if h <= 4
    } yield (ra, rb) -> (h, na, nb)).toMap
    assert(face == brute,
      s"banding join != brute force: ${face.size} vs ${brute.size} pairs")
  }

  // ---------------------------------------------------------- q210/q211

  test("image dup clusters: images conserved, near-dup classes merge, singletons stand") {
    import graft.ops.Multimodal
    val out = Multimodal.imageDupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val hashes = spark.read.parquet(Multimodal.ahashArtifactDir(spark, sf))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    // conservation: every image (incl. canaries) lands in exactly one cluster
    assert(out.values.map(_._2).sum == hashes.length.toLong,
      "cluster ledger does not conserve the image count")
    // clusters with >1 class exist exactly when near-dup pairs exist,
    // and the perturbed canaries within Hamming<=4 MERGE with their source
    val classOf = hashes.toMap
    for (id <- Multimodal.AHashCanaryIds) {
      val ham = java.lang.Long.bitCount(classOf(-(id + 1001L)) ^ classOf(id))
      if (ham <= 4) {
        // find the clusters holding each side: same cluster expected
        val face = Multimodal.imageDupPairs(spark, sf).collect()
        val reps = hashes.groupBy(_._2).map { case (h, xs) => h -> xs.map(_._1).min }
        val (ra, rb) = (reps(classOf(-(id + 1001L))), reps(classOf(id)))
        // both reps must map into ONE ledger row's cluster: look for a
        // cluster whose id is <= min(ra, rb) and which counts both classes
        val pair = face.find(r => Set(r.getLong(0), r.getLong(1)) == Set(ra, rb))
        assert(pair.isDefined, s"canary pair ($ra,$rb) missing from the pair face")
      }
    }
    // singleton clusters have exactly one class
    assert(out.exists { case (_, (nc, _)) => nc == 1L })
  }

  test("analyze stats: replayed against direct computation") {
    val out = graft.ops.Relational.analyzeColumnStats(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))
      .toMap
    assert(out.keySet == Set("l_orderkey", "l_linenumber", "l_returnflag",
      "l_shipdate_epoch"))
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val n = li.count()
    out.values.foreach { case (rows, nulls, ndv, mn, mx) =>
      assert(rows == n && nulls >= 0L && ndv >= 1L)
      assert(mn != null && mx != null && mn.nonEmpty && mx.nonEmpty)
    }
    // spot-check one column exactly
    import org.apache.spark.sql.functions.{countDistinct => cd}
    val rf = li.agg(cd(col("l_returnflag"))).head.getLong(0)
    assert(out("l_returnflag")._3 == rf)
    assert(out("l_orderkey")._1 == n && out("l_orderkey")._2 == 0L)
  }

  // ---------------------------------------------------------------- q209

  test("containment pairs: planted half-doc twins flag where Jaccard is blind") {
    val rows = graft.ops.Dedup.containmentPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    // every reported pair respects the threshold on its max side
    assert(rows.values.forall { case (_, c1, c2) => math.max(c1, c2) >= 0.9 })
    // planted canaries: the half-text twin of doc k (id -k-2000000) must
    // flag CONTAINED (c1 ~ 1.0) while the full doc shares < half its own
    // shingles (c2 < 0.5) - i.e. Jaccard < 0.5, q32-invisible
    val canaries = rows.filter { case ((a, b), _) => a == -b - 2000000L }
    assert(canaries.size >= 5, s"only ${canaries.size} planted twins flagged")
    canaries.foreach { case ((a, b), (_, c1, c2)) =>
      assert(c1 >= 0.9, s"twin ($a,$b) containment $c1 below bound")
      // a half-doc's c2 is ~0.5 by construction (exactly 0.5 when the
      // halves partition the shingles evenly, as doc 236's do)
      assert(c2 <= 0.55, s"twin ($a,$b) c2=$c2 - not a half-doc signature")
    }
    // and for most twins the full side shares STRICTLY less than half
    // its shingles - Jaccard < 0.5, q32-invisible by construction
    assert(canaries.count { case (_, (_, _, c2)) => c2 < 0.5 } >= 5,
      "too few twins below the q32 visibility threshold")
    // and asymmetry is REAL: natural pairs exist in both orientations
    assert(rows.nonEmpty)
  }

  // ---------------------------------------------------------------- q208

  test("semantic decon: planted exact-copy leaks flag at cos 1.0 against their source") {
    val out = Similarity.semanticDecontaminate(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // the three planted leaks (copies of bench vecs 0,1,2 under -1,-2,-3)
    for (id <- 0L to 2L) {
      val (bid, cos) = out.getOrElse(-(id + 1L),
        fail(s"planted leak -(${id + 1}) not flagged"))
      assert(bid == id, s"leak -${id + 1} attributed to bench $bid, not $id")
      assert(cos == 1.0, s"exact copy scored $cos")
    }
    // everything flagged respects the threshold, output keyed uniquely
    assert(out.values.forall(_._2 >= 0.98))
  }

  // ---------------------------------------------------------------- q207

  test("audio fingerprint: PCM-level replay, AIFF invariance, perturb sensitivity") {
    import graft.ops.Multimodal.JdkCodec
    // independent replay: the fingerprint of the REAL WAV encode->decode
    // path must equal pure arithmetic over the sample() closed form
    def refFp(id: Long): Long = {
      val n = JdkCodec.audioFrames(id)
      def v(idx: Int): Int = JdkCodec.sample(id, math.min(idx, n - 1)).toInt
      var hash = 0L
      var prev = v(n / 130)
      for (k <- 0 until 64) {
        val cur = v((2 * (k + 1) + 1) * n / 130)
        if (cur >= prev) hash |= 1L << k
        prev = cur
      }
      hash
    }
    for (id <- Seq(1L, 4L, 7L, 10L, 43L, 124L)) {
      val wav = JdkCodec.encodeWav(id)
      val aiff = JdkCodec.encodeAiff(id)
      // byte-different container AND byte order -> identical fingerprint
      assert(!java.util.Arrays.equals(wav, aiff))
      assert(JdkCodec.audioFingerprint(aiff) == JdkCodec.audioFingerprint(wav),
        s"AIFF re-encode changed the fingerprint for id=$id")
      val pf = JdkCodec.audioFingerprint(JdkCodec.encodeWavPerturbed(id))
      assert(pf != JdkCodec.audioFingerprint(wav), s"perturbation invisible for id=$id")
      val ham = java.lang.Long.bitCount(pf ^ JdkCodec.audioFingerprint(wav))
      assert(ham <= 8, s"two-sample poke moved $ham bits for id=$id")
    }
  }

  test("audio dup pairs gate face: collapse + canaries + banding complete") {
    import graft.ops.Multimodal
    val face = Multimodal.audioDupPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(face.values.forall(_ >= 1L), "exact-dup pair leaked past the collapse")
    val hashes = spark.read.parquet(Multimodal.audioFpArtifactDir(spark, sf))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val classes = hashes.groupBy(_._2).map { case (h, xs) => h -> xs.map(_._1).min }
    def rep(id: Long): Long = classes(hashes.find(_._1 == id).get._2)
    // r16 ADVICE: the per-canary assertions below are conditional on
    // ham ∈ [1,4]; without this guard the near-dup banding leg could go
    // VACUOUSLY untested (the image test has the same non-vacuous check)
    var nInRange = 0
    for (id <- Multimodal.AudioFpCanaryIds) {
      assert(rep(-(id + 1L)) == rep(id),
        s"AIFF re-encode of $id not collapsed with the original")
      val ham = java.lang.Long.bitCount(
        hashes.find(_._1 == -(id + 1001L)).get._2 ^
          hashes.find(_._1 == id).get._2).toLong
      if (ham >= 1 && ham <= 4) {
        nInRange += 1
        val (a, b) = (math.min(rep(-(id + 1001L)), rep(id)),
          math.max(rep(-(id + 1001L)), rep(id)))
        assert(face.contains((a, b)) && face((a, b)) == ham,
          s"perturbed canary pair ($a,$b) ham=$ham missing/mismatched")
      }
    }
    assert(nInRange >= 1, "no perturbed audio canary landed in Hamming " +
      "[1,4] — the near-dup banding assertions above ran vacuously")
    // banding completeness vs brute force over reps
    val reps = classes.toSeq.map { case (h, r) => (r, h) }
    val brute = (for {
      (ra, ha) <- reps; (rb, hb) <- reps if ra < rb
      h = java.lang.Long.bitCount(ha ^ hb).toLong if h <= 4
    } yield (ra, rb) -> h).toMap
    assert(face == brute,
      s"banding join != brute force: ${face.size} vs ${brute.size} pairs")
  }

  // ---------------------------------------------------------------- q206

  test("ngram dup coverage: hand fixture with known instance arithmetic") {
    val sp0 = spark; import sp0.implicits._
    // doc 1: "a b c d"  -> grams {a b c, b c d}            (2 instances)
    // doc 2: "a b c x"  -> grams {a b c, b c x}            (2 instances)
    // doc 3: "z z z z z"-> grams {z z z} ×3 — INTRA-doc repeats don't
    //                      count as cross-doc duplication   (3 instances)
    // doc 4: "q w"      -> no grams
    // cross-doc dup grams: {a b c} (docs 1,2). So:
    //  s1 = docs 1,3: inst 5, dup 1 -> 200000 ppm
    //  s2 = docs 2,4: inst 2, dup 1 -> 500000 ppm
    val docs = Seq(
      (1L, "s1", "a b c d"), (2L, "s2", "a b c x"),
      (3L, "s1", "z z z z z"), (4L, "s2", "q w")
    ).toDF("doc_id", "source", "text")
    val out = graft.ops.Dedup.ngramDupCoverageOn(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out("s1") == ((5L, 1L, 200000L)), s"s1: ${out("s1")}")
    assert(out("s2") == ((2L, 1L, 500000L)), s"s2: ${out("s2")}")
  }

  test("ngram dup coverage gate face: ppm bounded, instances conserved") {
    val out = graft.ops.Dedup.ngramDupCoverageOn(
      spark.read.parquet(s"$sf/documents.parquet")
        .select(col("doc_id"), col("source"), col("text"))).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "dup_inst > n_inst")
      assert(r.getLong(3) >= 0L && r.getLong(3) <= 1000000L)
    }
    // this corpus is built from a tiny vocabulary — duplication must be
    // overwhelmingly present (the metric would be ~0 on clean text)
    assert(out.map(_.getLong(2)).sum > 0L)
  }
}
