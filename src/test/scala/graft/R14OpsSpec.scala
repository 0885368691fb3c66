package graft

import graft.functions.{ArgmaxExprs, CentroidMatrix}
import graft.ops.{Dedup, Ivf, Sampling, Similarity}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-14 operators: multi-probe IVF retrieval (q164), index
  * compaction (q165), vector-family erasure (q166).
  *
  * The load-bearing assertions the r13 verdict prescribed:
  *  - recall@k(nprobe=3) ≥ recall@k(nprobe=1) on the q144 probe set —
  *    nprobe is only a lever if widening provably buys recall back;
  *  - post-compaction file count = |cells| and id-set equality with the
  *    pre-compaction index — compaction must change PHYSICS, not data;
  *  - erasure touches ONLY affected partitions (untouched partition
  *    files bit-unmoved by mtime+length) and leaves zero residual ids.
  */
class R14OpsSpec extends AnyFunSuite with SparkFixture {

  private val sf = "/root/testdata/sf0.001"
  private val localFs = FileSystem.getLocal(new Configuration())

  private def topPCol(c: Column, m: CentroidMatrix, p: Int): Column =
    GraftBridge.column(ArgmaxExprs.TopPDotCells(
      GraftBridge.expression(c), spark.sparkContext.broadcast(m), p))

  private def gridOf(qe: DataFrame): CentroidMatrix = {
    val centRows = qe.where(col("vec_id") % 100 === 1)
      .select(col("vec_id"), col("q8")).collect().sortBy(_.getLong(0))
    val dims = centRows.head.getSeq[Double](1).length
    CentroidMatrix(centRows.map(_.getLong(0)),
      centRows.flatMap(_.getSeq[Double](1)), dims)
  }

  // -------------------------------------------------------------------
  // q164: TopPDotCells + multi-probe retrieval
  // -------------------------------------------------------------------

  test("TopPDotCells at p=1 degenerates to ArgmaxDotCell exactly") {
    val qe = Ivf.quantizedEmbeddings(spark, sf)
    val m = gridOf(qe)
    val both = qe.select(
      GraftBridge.column(ArgmaxExprs.ArgmaxDotCell(
        GraftBridge.expression(col("q8")),
        spark.sparkContext.broadcast(m))).as("argmax"),
      topPCol(col("q8"), m, 1).as("top1"))
    assert(both.where(col("top1")(0) =!= col("argmax")).count() == 0)
    assert(both.where(size(col("top1")) =!= 1).count() == 0)
  }

  test("TopPDotCells matches the fan-out row_number ranking at p=3") {
    val qe = Ivf.quantizedEmbeddings(spark, sf)
    val m = gridOf(qe)
    val got = qe.select(col("vec_id"),
        posexplode(topPCol(col("q8"), m, 3)).as(Seq("r", "cent_id")))
      .select(col("vec_id"), (col("r") + 1).as("rn"), col("cent_id"))
    // reference: the n×cells fan-out ranked by (dot desc, cent_id asc)
    val cent = qe.where(col("vec_id") % 100 === 1)
      .select(col("vec_id").as("cent_id"), col("q8").as("cq"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"))
      .orderBy(col("cdot").desc, col("cent_id").asc)
    val want = qe.join(broadcast(cent))
      .select(col("vec_id"), col("cent_id"),
        graft.functions.VectorExprs.vecDot(col("q8"), col("cq"))
          .cast("long").as("cdot"))
      .withColumn("rn", row_number().over(w).cast("int"))
      .where(col("rn") <= 3)
      .select(col("vec_id"), col("rn"), col("cent_id"))
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
  }

  test("TopPDotCells breaks exact-dot ties to the smallest cent_id, in order") {
    val s2 = spark
    import s2.implicits._
    val v = Seq((1L, Array(1.0, 2.0))).toDF("vec_id", "q8")
    // centroids 9 and 7 identical (tie), 3 strictly worse
    val m = CentroidMatrix(Array(3L, 7L, 9L),
      Array(-1.0, -1.0, 1.0, 1.0, 1.0, 1.0), 2)
    val out = v.select(topPCol(col("q8"), m, 3).as("cells"))
      .collect().head.getSeq[Long](0)
    assert(out == Seq(7L, 9L, 3L))
  }

  test("TopPDotCells returns fewer than p entries only when the grid is smaller") {
    val s2 = spark
    import s2.implicits._
    val v = Seq((1L, Array(1.0, 2.0))).toDF("vec_id", "q8")
    val m = CentroidMatrix(Array(5L, 8L), Array(1.0, 0.0, 0.0, 1.0), 2)
    val out = v.select(topPCol(col("q8"), m, 4).as("cells"))
      .collect().head.getSeq[Long](0)
    assert(out.length == 2 && out.toSet == Set(5L, 8L))
  }

  test("multi-probe recall at nprobe=3 >= recall at nprobe=1 on the q144 probes") {
    def recall(nprobe: Int): Long = {
      val truth = Similarity.quantizedTopK(spark, sf, 10)
        .select(col("qid"), col("cid"))
      val ann = Similarity.ivfTopKMultiProbe(spark, sf, 10, nprobe)
        .select(col("qid"), col("cid"))
      truth.join(ann, Seq("qid", "cid")).count()
    }
    val r1 = recall(1)
    val r3 = recall(3)
    assert(r3 >= r1, s"recall hits at nprobe=3 ($r3) < nprobe=1 ($r1)")
    // and nprobe=1 must agree with the single-probe gate face exactly
    val single = Similarity.ivfTopKQuantized(spark, sf, 10)
      .select(col("qid"), col("cid"), col("dot"), col("rank"))
    val multi1 = Similarity.ivfTopKMultiProbe(spark, sf, 10, 1)
      .select(col("qid"), col("cid"), col("dot"), col("rank"))
    assert(single.except(multi1).isEmpty && multi1.except(single).isEmpty)
  }

  // -------------------------------------------------------------------
  // q165: compaction — physical file count + id-set equality
  // -------------------------------------------------------------------

  test("ivfCompactDir: file count collapses to |cells|, id set unchanged") {
    val qe = Ivf.quantizedEmbeddings(spark, sf)
    val cent = qe.where(col("vec_id") % 100 === 1)
      .select(col("vec_id").as("cent_id"), col("q8").as("cq"))
    val work = new java.io.File(
      s"target/tmp/r14spec_compact_${java.util.UUID.randomUUID().toString.take(8)}")
    try {
      val idx = s"${work.getPath}/index"
      def writeGen(rows: DataFrame, gen: Int): Unit =
        Ivf.assignCells(spark, rows, cent)
          .select(col("vec_id"), col("cent_id"))
          .repartition(col("cent_id")).write.mode("overwrite")
          .partitionBy("cent_id").parquet(s"$idx/batch=$gen")
      writeGen(qe.where(col("vec_id") % 2 === 0), -1)
      writeGen(qe.where(col("vec_id") % 2 === 1), 0)
      val before = spark.read.parquet(idx)
      val idsBefore = before.select(col("vec_id")).collect()
        .map(_.getLong(0)).sorted.toSeq
      val filesBefore = Scratch.dataFiles(localFs, idx)
      val out = s"${work.getPath}/compacted"
      Similarity.ivfCompactDir(spark, idx, out)
      val after = spark.read.parquet(out)
      val idsAfter = after.select(col("vec_id")).collect()
        .map(_.getLong(0)).sorted.toSeq
      val nCells = after.select(col("cent_id")).distinct().count()
      assert(idsAfter == idsBefore, "compaction must conserve the id set")
      assert(Scratch.dataFiles(localFs, out) == nCells,
        "post-compaction file count must equal |cells|")
      assert(filesBefore > nCells,
        "fixture must actually be accreted (more files than cells)")
      // per-(vec, cell) routing unchanged, not just the ids
      assert(before.select(col("vec_id"), col("cent_id"))
        .except(after.select(col("vec_id"), col("cent_id"))).isEmpty)
    } finally scala.reflect.io.Path(work).deleteRecursively()
  }

  // -------------------------------------------------------------------
  // q166: erasure — partition-touch discipline + zero residual
  // -------------------------------------------------------------------

  test("eraseFromStore rewrites only affected partitions and leaves zero residual") {
    val s2 = spark
    import s2.implicits._
    // 4 buckets; victims live only in buckets 0 and 2; bucket 2 is
    // FULLY erased (its dir must be deleted, not left stale)
    val rows = Seq(
      (0L, "a", 0), (4L, "b", 0), (8L, "c", 0), // bucket 0: erase 0, 8
      (1L, "d", 1), (5L, "e", 1),               // bucket 1: untouched
      (2L, "f", 2),                             // bucket 2: fully erased
      (3L, "g", 3), (7L, "h", 3))               // bucket 3: untouched
    val victims = Set(0L, 8L, 2L)
    val work = new java.io.File(
      s"target/tmp/r14spec_erase_${java.util.UUID.randomUUID().toString.take(8)}")
    try {
      val path = s"${work.getPath}/store"
      rows.toDF("id", "payload", "bkt")
        .repartition(col("bkt")).write.mode("overwrite")
        .partitionBy("bkt").parquet(path)
      def fileStamps(b: Int): Map[String, (Long, Long)] =
        Option(new java.io.File(s"$path/bkt=$b").listFiles())
          .getOrElse(Array.empty)
          .filter(_.getName.endsWith(".parquet"))
          .map(f => f.getName -> (f.lastModified(), f.length())).toMap
      val untouched1 = fileStamps(1)
      val untouched3 = fileStamps(3)
      assert(untouched1.nonEmpty && untouched3.nonEmpty)
      val (nErased, nParts) = Similarity.eraseFromStore(
        spark, path, "bkt", col("id").isin(victims.toSeq: _*))
      assert(nErased == 3 && nParts == 2)
      // untouched partitions: identical files, never reopened for write
      assert(fileStamps(1) == untouched1)
      assert(fileStamps(3) == untouched3)
      // fully-erased partition dir removed
      assert(!new java.io.File(s"$path/bkt=2").exists())
      // survivors intact, victims gone — fresh read off disk
      val left = spark.read.parquet(path).select(col("id"))
        .collect().map(_.getLong(0)).toSet
      assert(left == Set(4L, 1L, 5L, 3L, 7L))
    } finally scala.reflect.io.Path(work).deleteRecursively()
  }

  // -------------------------------------------------------------------
  // q167: rebalance — tail invariant + conservation
  // -------------------------------------------------------------------

  test("ivfRebalanceSplit: max occupancy never grows, rows conserved, splits fire") {
    // sf0.01, not sf0.001: the smaller corpus routes to a single cell
    // (exactly 1.0x the mean), so no threshold can fire there
    val sfSplit = "/root/testdata/sf0.01"
    val r = Similarity.ivfRebalanceSplit(spark, sfSplit, thresholdPpm = 1100000L)
      .collect().head
    assert(r.getAs[Long]("max_occ_after") <= r.getAs[Long]("max_occ_before"),
      "splitting can only shrink or hold the max cell")
    assert(r.getAs[Long]("n_vecs_after") ==
      Ivf.quantizedEmbeddings(spark, sfSplit).count(),
      "rebalance must conserve every row")
    assert(r.getAs[Long]("n_cells_after") >= r.getAs[Long]("n_cells_before"))
    // at the pinned 1.1x threshold the gate corpus has at least one hot
    // cell — the split path must actually run, not vacuously pass
    assert(r.getAs[Long]("n_cells_split") >= 1L)
  }

  test("vectorErasure receipt: zero residual and conserved index size") {
    val r = Similarity.vectorErasure(spark, sf).collect().head
    assert(r.getAs[Long]("n_residual_after") == 0L)
    val n = Ivf.quantizedEmbeddings(spark, sf).count()
    assert(r.getAs[Long]("n_index_after") ==
      n - r.getAs[Long]("n_index_erased"))
    assert(r.getAs[Long]("n_store_erased") == r.getAs[Long]("n_index_erased"))
  }

  // -------------------------------------------------------------------
  // q168: nprobe auto-select — curve shape + selection rule
  // -------------------------------------------------------------------

  test("nprobeSelect: recall monotone, cost monotone, selection is min-meeting-target") {
    val rows = Similarity.nprobeSelect(spark, "/root/testdata/sf0.01")
      .collect().sortBy(_.getAs[Long]("nprobe"))
    assert(rows.length == 3)
    val recalls = rows.map(_.getAs[Long]("recall_ppm"))
    val costs = rows.map(_.getAs[Long]("n_cand"))
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
      s"recall must be monotone in nprobe: ${recalls.toSeq}")
    assert(costs.zip(costs.tail).forall { case (a, b) => a < b },
      s"candidate cost must grow with nprobe: ${costs.toSeq}")
    val chosen = rows.filter(_.getAs[Boolean]("chosen"))
    assert(chosen.length == 1, "exactly one selected row")
    val meets = rows.filter(_.getAs[Long]("recall_ppm") >= 900000L)
    val expect = if (meets.nonEmpty) meets.map(_.getAs[Long]("nprobe")).min
                 else rows.map(_.getAs[Long]("nprobe")).max
    assert(chosen.head.getAs[Long]("nprobe") == expect)
    // nprobe=1 must equal the q144 aggregate (same truth, same index)
    val q144 = Similarity.annRecallAudit(spark, "/root/testdata/sf0.01")
      .agg(sum(col("n_hit")), sum(col("n_truth"))).collect().head
    assert(rows.head.getAs[Long]("n_hit") == q144.getLong(0))
    assert(rows.head.getAs[Long]("n_truth") == q144.getLong(1))
  }

  // -------------------------------------------------------------------
  // q169: filtered ANN — predicate holds, pre-filter beats post-filter
  // -------------------------------------------------------------------

  test("ivfTopKFiltered: every hit satisfies the predicate; ranks contiguous; pre-filter completeness") {
    val d = "/root/testdata/sf0.01"
    val rows = Similarity.ivfTopKFiltered(spark, d).collect()
    assert(rows.nonEmpty)
    val labels = Tables.embeddings(spark, d)
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach(r => assert(labels(r.getAs[Long]("cid")) % 2 == 0,
      s"filtered hit violates predicate: $r"))
    rows.groupBy(_.getAs[Long]("qid")).values.foreach { qs =>
      val ranks = qs.map(_.getAs[Int]("rank")).sorted.toSeq
      assert(ranks == (1 to ranks.length), s"ranks not contiguous: $ranks")
    }
    // pre-filter completeness: a post-filtered UNFILTERED top-10 can
    // only return <= the pre-filtered count per query (the reason the
    // operator filters BEFORE ranking)
    val post = Similarity.ivfTopKMultiProbe(spark, d, k = 10, nprobe = 2)
      .collect().filter(r => labels(r.getAs[Long]("cid")) % 2 == 0)
      .groupBy(_.getAs[Long]("qid")).view.mapValues(_.length).toMap
    rows.groupBy(_.getAs[Long]("qid")).foreach { case (q, qs) =>
      assert(post.getOrElse(q, 0) <= qs.length,
        s"post-filter returned more than pre-filter for query $q")
    }
  }

  // -------------------------------------------------------------------
  // q170: repeated-block dedup — splice correctness on a planted corpus
  // -------------------------------------------------------------------

  test("blockDedup: planted boilerplate spliced, unique docs untouched, counts reconcile") {
    val d = "/root/testdata/sf0.01"
    val out = Dedup.blockDedup(spark, d).collect()
    val docs = Tables.documents(spark, d).select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.length == docs.size)
    // independent in-memory replay of the definition
    def blocks(t: String): Seq[String] =
      "[a-z0-9]+".r.findAllIn(t).toSeq.grouped(8).map(_.mkString(" ")).toSeq
    val counts = docs.values.toSeq.flatMap(blocks)
      .groupBy(identity).view.mapValues(_.size).toMap
    var touched = 0
    out.foreach { r =>
      val bs = blocks(docs(r.getAs[Long]("doc_id")))
      val hot = bs.filter(counts(_) > 1)
      assert(r.getAs[Long]("n_blocks") == bs.length)
      assert(r.getAs[Long]("n_dropped") == hot.length)
      assert(r.getAs[String]("text_clean") ==
        bs.filter(counts(_) <= 1).mkString(" "))
      if (hot.nonEmpty) touched += 1
    }
    assert(touched > 0, "the corpus must exercise the splice path")
  }

  // -------------------------------------------------------------------
  // q171: LM filter ledger — threshold rule + reconciliation with q113
  // -------------------------------------------------------------------

  test("lmQualityFilterLedger: ledger reconciles with the q113 scores it applies") {
    val d = "/root/testdata/sf0.01"
    val scores = graft.ops.TextAnalysis.lmQualityScore(spark, d)
      .where(col("n_pairs") > 0).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("score_mbits")).toMap
    val t = scores.values.sum / scores.size
    val led = graft.ops.TextAnalysis.lmQualityFilterLedger(spark, d).collect()
    assert(led.forall(_.getAs[Long]("threshold_mbits") == t))
    assert(led.map(_.getAs[Long]("n_scored")).sum == scores.size)
    val kept = scores.values.count(_ <= t)
    assert(led.map(_.getAs[Long]("n_kept")).sum == kept)
    led.foreach { r =>
      assert(r.getAs[Long]("kept_ppm") ==
        1000000L * r.getAs[Long]("n_kept") / r.getAs[Long]("n_scored"))
    }
  }

  // -------------------------------------------------------------------
  // q172: epoch shuffle — permutation, reproducibility, decorrelation
  // -------------------------------------------------------------------

  test("epochShardShuffle: exact permutation, reproducible, epochs decorrelated") {
    val d = "/root/testdata/sf0.01"
    val a = Sampling.epochShardShuffle(spark, d).collect()
    val n = Tables.documents(spark, d).count()
    assert(a.length == n, "every document lands in exactly one shard slot")
    assert(a.map(_.getAs[Long]("doc_id")).distinct.length == n)
    a.groupBy(_.getAs[Long]("shard")).values.foreach { sh =>
      val ps = sh.map(_.getAs[Long]("pos")).sorted.toSeq
      assert(ps == (1L to ps.length).toSeq, "in-shard positions contiguous")
    }
    // reproducible: a second run is bit-identical
    val b = Sampling.epochShardShuffle(spark, d).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    // decorrelated: epoch 2 produces a different assignment for most docs
    val e2 = Sampling.epochShardShuffle(spark, d, epoch = 2).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("shard")).toMap
    val same = a.count(r => e2(r.getAs[Long]("doc_id")) == r.getAs[Long]("shard"))
    assert(same < n * 3 / 10, s"epochs too correlated: $same/$n unchanged")
  }

  // -------------------------------------------------------------------
  // q173: index merge — conservation, layout rule, zero-missing
  // -------------------------------------------------------------------

  test("ivfMergeIndexes: disjoint halves conserve exactly, one file per cell, zero missing") {
    val d = "/root/testdata/sf0.01"
    val r = Similarity.ivfMergeIndexes(spark, d).collect().head
    assert(r.getAs[Long]("n_vecs_merged") ==
      r.getAs[Long]("n_vecs_a") + r.getAs[Long]("n_vecs_b"),
      "disjoint halves must union without loss or double-count")
    assert(r.getAs[Long]("n_vecs_merged") ==
      Ivf.quantizedEmbeddings(spark, d).count())
    assert(r.getAs[Long]("n_missing_after") == 0L)
    assert(r.getAs[Long]("files_after") == r.getAs[Long]("n_cells_merged"),
      "the q126 layout rule: one physical file per merged cell")
    val (ca, cb, cm) = (r.getAs[Long]("n_cells_a"),
      r.getAs[Long]("n_cells_b"), r.getAs[Long]("n_cells_merged"))
    assert(cm >= math.max(ca, cb) && cm <= ca + cb)
  }

  // -------------------------------------------------------------------
  // q174: recenter — conservation + the step must actually move vectors
  // -------------------------------------------------------------------

  test("ivfRecenter: occupancies conserve the corpus on both sides; the Lloyd step moves vectors") {
    val d = "/root/testdata/sf0.01"
    val rows = Similarity.ivfRecenter(spark, d).collect()
    val n = Ivf.quantizedEmbeddings(spark, d).count()
    assert(rows.map(_.getAs[Long]("occ_before")).sum == n)
    assert(rows.map(_.getAs[Long]("occ_after")).sum == n)
    val moved = rows.map(_.getAs[Long]("n_moved")).distinct
    assert(moved.length == 1, "n_moved is a single global measurement")
    assert(moved.head > 0 && moved.head < n,
      s"a recenter step on drifted data must move SOME vectors: ${moved.head}")
  }

  // -------------------------------------------------------------------
  // q175: streaming erasure — final state + replay-stable receipts
  // -------------------------------------------------------------------

  test("streamErasure: final index = corpus minus all subjects; replayed batch is bit-identical") {
    val d = sf // sf0.001: 5 subjects in 3 waves over one cell
    val rows = graft.ops.Pipelines.streamErasure(spark, d).collect()
    val qe = Ivf.quantizedEmbeddings(spark, d)
    val nSubjects = qe.where(col("vec_id") % 10 === 0).count()
    assert(rows.map(_.getAs[Long]("n_subjects")).sum == nSubjects)
    assert(rows.forall(_.getAs[Long]("n_residual_after") == 0L))
    val base = "target/tmp/se_q175"
    val idx = spark.read.parquet(s"$base/index")
    assert(idx.count() == qe.count() - nSubjects)
    assert(idx.join(qe.where(col("vec_id") % 10 === 0),
      Seq("vec_id"), "left_semi").count() == 0, "zero residual on disk")
    // crash-replay: re-execute committed batch 0 against the final
    // state — the receipt must be bit-identical (pure function of the
    // batch + static routing) and the index untouched (idempotent)
    val receiptBefore = spark.read.parquet(s"$base/stage/receipt_0")
      .collect().map(_.toSeq).toSeq
    val idxBefore = idx.collect().map(_.toSeq).sortBy(_.toString).toSeq
    val cent = qe.where(col("vec_id") % 100 === 0 && col("vec_id") < 6400)
      .select(col("vec_id").as("cent_id"), col("q8").as("cq"))
    // checkpoint: seProcessBatch re-stages to the same path the scan
    // reads — exactly what a real foreachBatch replay delivers (an
    // in-memory batch), not a lazy self-referential file scan
    val b0 = spark.read.parquet(s"$base/stage/b_0").localCheckpoint(true)
    graft.ops.Pipelines.seProcessBatch(base, cent, qe, b0, 0L)
    val receiptAfter = spark.read.parquet(s"$base/stage/receipt_0")
      .collect().map(_.toSeq).toSeq
    assert(receiptAfter == receiptBefore, "replayed receipt must be bit-identical")
    val idxAfter = spark.read.parquet(s"$base/index")
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(idxAfter == idxBefore, "replayed batch must not change the index")
  }

  // -------------------------------------------------------------------
  // q176: shard balance — reconciliation with q172's assignment
  // -------------------------------------------------------------------

  test("epochShardBalance: shares sum to ~1e6, loads reconcile with the q172 assignment") {
    val d = "/root/testdata/sf0.01"
    val rows = Sampling.epochShardBalance(spark, d).collect()
    val docs = Tables.documents(spark, d).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == docs)
    // integer-floor shares can undershoot 1e6 by at most |shards|
    val dShare = rows.map(_.getAs[Long]("docs_share_ppm")).sum
    assert(dShare <= 1000000L && dShare > 1000000L - rows.length)
    // reconcile with the assignment face: same hash, same buckets
    val fromAssign = Sampling.epochShardShuffle(spark, d).collect()
      .groupBy(_.getAs[Long]("shard")).view.mapValues(_.length.toLong).toMap
    rows.foreach(r => assert(
      fromAssign(r.getAs[Long]("shard")) == r.getAs[Long]("n_docs")))
  }

  // -------------------------------------------------------------------
  // q177: quantization fidelity — bounds + independent replay
  // -------------------------------------------------------------------

  test("quantFidelity: pair counts exact, inversions within bounds, replayed independently") {
    val d = "/root/testdata/sf0.01"
    val rows = Similarity.quantFidelity(spark, d).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val k = r.getAs[Long]("n_cand")
      assert(r.getAs[Long]("n_pairs") == k * (k - 1) / 2)
      assert(r.getAs[Long]("n_inversions") >= 0 &&
        r.getAs[Long]("n_inversions") <= r.getAs[Long]("n_pairs"))
    }
    // the audit must measure something real on this corpus: int8 cannot
    // be ORDER-PERFECT at k=20 (if it were, the audit is vacuous)
    assert(rows.map(_.getAs[Long]("n_inversions")).sum > 0)
    // and it must not be noise either: top-1 agreement somewhere
    assert(rows.exists(_.getAs[Boolean]("top1_agree")))
  }

  // -------------------------------------------------------------------
  // q178/q179: binary sign sketch, Hamming retrieval, two-stage rerank
  // -------------------------------------------------------------------

  test("signSketch: bit-for-bit equal to a plain-Scala sign pack") {
    val emb = graft.Tables.embeddings(spark, sf)
    val got = Similarity.signSketch(emb).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val raw = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(got.keySet == raw.keySet)
    raw.foreach { case (id, v) =>
      var s1 = 0L; var s2 = 0L
      var i = 0
      while (i < 64) {
        if (v(i) > 0f) {
          if (i < 32) s1 |= 1L << i else s2 |= 1L << (i - 32)
        }
        i += 1
      }
      assert(got(id) == ((s1, s2)), s"vec $id")
    }
  }

  test("hammingTopK: equals the brute-force Hamming rank over collected sketches") {
    val rows = Similarity.hammingTopK(spark, sf, k = 10).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank").toLong) ->
        (r.getAs[Long]("cid"), r.getAs[Long]("hamming"))).toMap
    val sk = Similarity.signSketch(graft.Tables.embeddings(spark, sf))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val probes = sk.filter(_._1 < 5)
    probes.foreach { case (qid, p1, p2) =>
      val want = sk.filter(_._1 != qid)
        .map { case (cid, s1, s2) =>
          (cid, (java.lang.Long.bitCount(s1 ^ p1) +
            java.lang.Long.bitCount(s2 ^ p2)).toLong)
        }
        .sortBy { case (cid, h) => (h, cid) }.take(10)
      want.zipWithIndex.foreach { case ((cid, h), i) =>
        assert(rows((qid, i + 1L)) == ((cid, h)), s"qid=$qid rank=${i + 1}")
      }
    }
  }

  test("twoStageTopK: stage-2 rows come from the stage-1 shortlist, and a " +
    "full-width shortlist degenerates to the exact int8 top-k") {
    val two = Similarity.twoStageTopK(spark, sf, k = 10, shortlist = 50)
      .collect()
    val short = Similarity.hammingTopK(spark, sf, k = 50).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSet
    assert(two.nonEmpty)
    two.foreach(r => assert(short.contains(
      (r.getAs[Long]("qid"), r.getAs[Long]("cid")))))
    // widen the shortlist past the corpus: rerank sees every candidate,
    // so two-stage ≡ the exact integer-dot top-k (fidelity converges)
    val n = graft.Tables.embeddings(spark, sf).count().toInt
    val full = Similarity.twoStageTopK(spark, sf, k = 10, shortlist = n + 1)
      .collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank").toLong) ->
        r.getAs[Long]("cid")).toMap
    val qe = Ivf.quantizedEmbeddings(spark, sf)
    val pq = qe.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("q8").as("qv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("dot").desc, col("cid").asc)
    val exact = qe.join(broadcast(pq), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"),
        graft.functions.VectorExprs.vecDot(col("qv"), col("q8"))
          .cast("long").as("dot"))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= 10)
      .collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank").toLong) ->
        r.getAs[Long]("cid")).toMap
    assert(full == exact)
  }

  // -------------------------------------------------------------------
  // q180: contrastive triplet mining
  // -------------------------------------------------------------------

  test("contrastiveMine: conditional max_by equals the window-rank replay, " +
    "classes honored, margin identity") {
    val d = "/root/testdata/sf0.01"
    val rows = graft.ops.Similarity.contrastiveMine(spark, d).collect()
    assert(rows.length == 5)
    val qe = Ivf.quantizedEmbeddings(spark, d)
      .join(graft.Tables.embeddings(spark, d).select(col("vec_id"), col("label")),
        Seq("vec_id"))
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getSeq[Double](r.fieldIndex("q8")),
        r.getAs[Int]("label")))
    def dot(a: scala.collection.Seq[Double], b: scala.collection.Seq[Double]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum.toLong
    rows.foreach { r =>
      val aid = r.getAs[Long]("aid")
      val (_, aq, al) = qe.find(_._1 == aid).get
      assert(r.getAs[Int]("label") == al)
      val cands = qe.filter(_._1 != aid)
        .map { case (cid, q, l) => (cid, l, dot(aq, q)) }
      val pos = cands.filter(_._2 == al).sortBy { case (c, _, dt) => (-dt, c) }.head
      val neg = cands.filter(_._2 != al).sortBy { case (c, _, dt) => (-dt, c) }.head
      assert(r.getAs[Long]("pos_id") == pos._1 && r.getAs[Long]("pos_dot") == pos._3)
      assert(r.getAs[Long]("neg_id") == neg._1 && r.getAs[Long]("neg_dot") == neg._3)
      assert(r.getAs[Long]("margin") ==
        r.getAs[Long]("pos_dot") - r.getAs[Long]("neg_dot"))
    }
    // the miner must surface REAL hard negatives on this corpus: labels
    // are near-random vs geometry, so some margins must be ≤ 0
    assert(rows.exists(_.getAs[Long]("margin") <= 0))
  }

  // -------------------------------------------------------------------
  // q181: token-budget curation
  // -------------------------------------------------------------------

  test("tokenBudgetSelect: cut is minimal-feasible, identities hold, " +
    "oversized best group keeps nothing") {
    val sp = spark
    import sp.implicits._
    // fixture: src A score groups (bp→tokens) 9:300, 8:400, 7:200 —
    // budget 800 admits {9,8} (700) and NOT 7 (900); src B's single
    // best group alone is 900 > 800 → keeps nothing
    val scored = Seq(
      ("A", 300L, 9L), ("A", 200L, 8L), ("A", 200L, 8L), ("A", 200L, 7L),
      ("B", 900L, 5L), ("B", 10L, 4L))
      .toDF("source", "nt", "score_bp")
    val out = graft.ops.Curation.tokenBudgetSelectOn(scored, 800L)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    val a = out("A")
    assert(a.getAs[Long]("cut_bp") == 8L)
    assert(a.getAs[Long]("n_kept") == 3L && a.getAs[Long]("tokens_kept") == 700L)
    assert(a.getAs[Long]("util_ppm") == 875000L)
    val b = out("B")
    assert(b.isNullAt(b.fieldIndex("cut_bp")))
    assert(b.getAs[Long]("n_kept") == 0L && b.getAs[Long]("tokens_kept") == 0L)
    assert(b.getAs[Long]("n_docs") == 2L && b.getAs[Long]("n_tokens") == 910L)
    // corpus face: kept mass fits the budget, and the cut is MAXIMAL —
    // admitting the next score group below the cut would blow it
    val d = "/root/testdata/sf0.01"
    val face = graft.ops.Curation.tokenBudgetSelect(spark, d).collect()
    val hist = graft.ops.TextAnalysis.sourceQualityFrame(spark, d)
      .groupBy(col("source"), col("score_bp"))
      .agg(sum(col("nt")).as("t")).collect()
      .groupBy(_.getAs[String]("source"))
    face.foreach { r =>
      val kept = r.getAs[Long]("tokens_kept")
      assert(kept <= 800L)
      if (!r.isNullAt(r.fieldIndex("cut_bp"))) {
        val cut = r.getAs[Long]("cut_bp")
        val below = hist(r.getAs[String]("source"))
          .filter(_.getAs[Long]("score_bp") < cut)
          .map(_.getAs[Long]("score_bp")).sorted.reverse.headOption
        below.foreach { nxt =>
          val nextT = hist(r.getAs[String]("source"))
            .find(_.getAs[Long]("score_bp") == nxt).get.getAs[Long]("t")
          assert(kept + nextT > 800L,
            s"${r.getAs[String]("source")}: cut not maximal")
        }
      }
    }
  }

  // -------------------------------------------------------------------
  // q182: streaming drift monitor — receipt invariants
  // -------------------------------------------------------------------

  test("streamDriftMonitor: cumulative counts conserve the corpus, drift " +
    "converges to exactly 0 on the final wave") {
    val rows = graft.ops.Pipelines.streamDriftMonitor(spark, sf)
      .orderBy(col("wave")).collect()
    assert(rows.length == 3)
    val nDocs = graft.Tables.documents(spark, sf).count()
    // waves partition the corpus: batch sizes sum to it, cumulative is
    // the running sum, and the last cumulative IS the corpus
    assert(rows.map(_.getAs[Long]("n_batch")).sum == nDocs)
    rows.foldLeft(0L) { (acc, r) =>
      val cum = acc + r.getAs[Long]("n_batch")
      assert(r.getAs[Long]("n_cum") == cum); cum
    }
    assert(rows.last.getAs[Long]("n_cum") == nDocs)
    // convergence: the monitor's final receipt scores the full corpus
    // against its own profile — TVD identically 0, every lang seen
    assert(rows.last.getAs[Long]("tvd_ppm") == 0L)
    val nLangs = graft.Tables.documents(spark, sf)
      .select(col("lang")).distinct().count()
    assert(rows.last.getAs[Long]("n_langs_cum") == nLangs)
    // and the partial receipts must measure REAL drift (a monitor that
    // always reads 0 is vacuous)
    assert(rows.init.exists(_.getAs[Long]("tvd_ppm") > 0L))
  }

  // -------------------------------------------------------------------
  // q183: sketch-mode profiler — estimator regimes
  // -------------------------------------------------------------------

  test("tableProfileKmv: exact below k, within the 3-rsd envelope above, " +
    "null counters zero on this corpus") {
    val d = "/root/testdata/sf0.01"
    val rows = graft.ops.Relational.tableProfileKmv(spark, d).collect()
      .map(r => r.getAs[String]("col_name") -> r).toMap
    assert(rows.size == 4)
    val o = graft.Tables.orders(spark, d)
    val nRows = o.count()
    rows.values.foreach { r =>
      assert(r.getAs[Long]("n_rows") == nRows)
      assert(r.getAs[Long]("n_nulls") == 0L)
    }
    def exact(c: String): Long = o.select(col(c)).distinct().count()
    // below-k columns: the sketch IS the distinct set — estimate exact
    Seq("o_orderstatus", "o_orderpriority").foreach { c =>
      assert(rows(c).getAs[Long]("n_distinct_est") == exact(c), c)
    }
    // saturated columns: (k-1)·2^60/h_k within 3 rsd = 3/√(k-2) ≈ 19%
    Seq("o_orderkey", "o_custkey").foreach { c =>
      val est = rows(c).getAs[Long]("n_distinct_est").toDouble
      val x = exact(c).toDouble
      assert(math.abs(est - x) / x < 0.19, s"$c: est=$est exact=$x")
    }
  }

  // -------------------------------------------------------------------
  // q184: index integrity digest
  // -------------------------------------------------------------------

  test("ivfDigestAudit: corruption is count-invisible but digest-visible, " +
    "victim cells named exactly, clean index audits empty") {
    val d = "/root/testdata/sf0.01"
    val rows = Similarity.ivfDigestAudit(spark, d, centStride = 100).collect()
    assert(rows.nonEmpty, "the planted corruption must surface")
    // the signature this audit exists for: counts intact, digests not
    rows.foreach { r =>
      assert(r.getAs[Long]("n_corpus") == r.getAs[Long]("n_index"))
      assert(r.getAs[Long]("dig_corpus") != r.getAs[Long]("dig_index"))
    }
    // diverged set == exactly the victims' cells
    val qe = Ivf.quantizedEmbeddings(spark, d)
    val cent = qe.where(col("vec_id") % 100 === 1)
      .select(col("vec_id").as("cent_id"), col("q8").as("cq"))
    val victimCells = Ivf.assignCells(spark,
        qe.where(pmod(col("vec_id"), lit(167)) === 5), cent)
      .select(col("cent_id")).collect().map(_.getLong(0)).toSet
    assert(rows.map(_.getAs[Long]("cent_id")).toSet == victimCells)
    // a pristine index passes: rebuild without corruption and re-audit
    val clean = s"target/tmp/q184clean"
    scala.reflect.io.Path(new java.io.File(clean)).deleteRecursively()
    Ivf.assignCells(spark, qe, cent)
      .select(col("vec_id"), col("cent_id"))
      .repartition(col("cent_id")).write.mode("overwrite")
      .partitionBy("cent_id").parquet(clean)
    assert(Similarity.ivfDigestAudit(spark, d, centStride = 100,
      indexDir = clean).count() == 0)
  }

  // -------------------------------------------------------------------
  // q185: mixture allocation apply
  // -------------------------------------------------------------------

  test("mixtureApply: per-cell kept = min(alloc, n_cell), two-phase equals " +
    "the naive rank, layout-independent") {
    val d = "/root/testdata/sf0.01"
    val docs = graft.Tables.documents(spark, d)
    val out = graft.ops.Curation.mixtureApply(spark, d).collect()
    val keptPerCell = out.groupBy(r =>
      (r.getAs[String]("source"), r.getAs[String]("lang")))
      .view.mapValues(_.length.toLong).toMap
    val alloc = graft.ops.Curation.mixtureAllocation(
      docs, Seq(col("source"), col("lang")), 300L)
      .select(col("source"), col("lang"), col("n_docs"), col("alloc"))
      .collect()
    alloc.foreach { r =>
      val cell = (r.getAs[String]("source"), r.getAs[String]("lang"))
      val want = math.min(r.getAs[Long]("alloc"), r.getAs[Long]("n_docs"))
      assert(keptPerCell.getOrElse(cell, 0L) == want, s"$cell")
    }
    // naive in-engine rank replay over the same quota table
    val hv = conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("long")
    val quotas = graft.ops.Curation.mixtureAllocation(
      docs, Seq(col("source"), col("lang")), 300L)
      .select(col("source"), col("lang"), col("alloc").as("quota"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"), col("lang")).orderBy(col("hv"), col("doc_id"))
    val naive = docs.withColumn("hv", hv)
      .join(broadcast(quotas), Seq("source", "lang"))
      .withColumn("rk", row_number().over(w)).where(col("rk") <= col("quota"))
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(out.map(_.getAs[Long]("doc_id")).sorted.toSeq == naive)
    // layout independence: a hostile repartition changes nothing
    val shuffled = graft.ops.Sampling.reservoirSampleQuota(
      docs.repartition(13, col("lang")), Seq("source", "lang"),
      key = col("doc_id").cast("string"), tie = col("doc_id"),
      quotas = quotas)
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(shuffled == naive)
  }

  // -------------------------------------------------------------------
  // q186: curriculum shard ordering
  // -------------------------------------------------------------------

  test("curriculumShuffle: exact permutation, shard assignment = q172's, " +
    "in-shard quality monotone") {
    val d = "/root/testdata/sf0.01"
    val rows = Sampling.curriculumShuffle(spark, d).collect()
    val nDocs = graft.Tables.documents(spark, d).count()
    assert(rows.length == nDocs)
    assert(rows.map(_.getAs[Long]("doc_id")).distinct.length == nDocs)
    // same shard assignment as the plain epoch shuffle (shared hash)
    val plain = Sampling.epochShardShuffle(spark, d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("shard")).toMap
    rows.foreach(r =>
      assert(plain(r.getAs[Long]("doc_id")) == r.getAs[Long]("shard")))
    rows.groupBy(_.getAs[Long]("shard")).values.foreach { sh =>
      val byPos = sh.sortBy(_.getAs[Long]("pos"))
      // positions contiguous from 1
      assert(byPos.map(_.getAs[Long]("pos")).toSeq ==
        (1L to sh.length.toLong))
      // the curriculum: bucket never increases along the shard
      val buckets = byPos.map(_.getAs[Long]("bucket"))
      assert(buckets.zip(buckets.tail).forall { case (a, b) => a >= b })
    }
  }

  // -------------------------------------------------------------------
  // q187: normalized-form dedup
  // -------------------------------------------------------------------

  test("normalizedDedup: every planted twin caught, none visible to raw " +
    "hashing, ledger reconciles per source") {
    val d = "/root/testdata/sf0.01"
    val rows = Dedup.normalizedDedup(spark, d).collect()
    val docs = graft.Tables.documents(spark, d)
    val planted = docs.where(pmod(col("doc_id"), lit(40)) === 3)
      .groupBy(col("source")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Long]("n")).toMap
    val base = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Long]("n")).toMap
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      val twins = planted.getOrElse(src, 0L)
      assert(r.getAs[Long]("n_docs") == base(src) + twins)
      // raw hashing sees every row as unique (the twins are uppercased)
      assert(r.getAs[Long]("n_exact_unique") == r.getAs[Long]("n_docs"))
      // canonical hashing folds exactly the planted twins
      assert(r.getAs[Long]("extra_dups") == twins, src)
    }
    assert(rows.map(_.getAs[Long]("extra_dups")).sum > 0,
      "fixture must plant at least one twin")
  }

  // -------------------------------------------------------------------
  // q188: MMR diversified retrieval — plain-Scala greedy replay
  // -------------------------------------------------------------------

  test("mmrDiversify: greedy cascade equals a plain-Scala replay, " +
    "diversification actually reorders") {
    val d = "/root/testdata/sf0.01"
    val rows = Similarity.mmrDiversify(spark, d).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("sel_rank")) ->
        (r.getAs[Long]("cid"), r.getAs[Long]("max_sim"),
          r.getAs[Long]("score"))).toMap
    val qe = Ivf.quantizedEmbeddings(spark, d).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum.toLong
    (0L until 5L).foreach { qid =>
      val pool = qe.keys.filter(_ != qid).toSeq
        .map(c => (c, dot(qe(qid), qe(c))))
        .sortBy { case (c, dt) => (-dt, c) }.take(20)
      var sel = List.empty[Long]
      (1 to 3).foreach { i =>
        val scored = pool.filterNot { case (c, _) => sel.contains(c) }
          .map { case (c, rel) =>
            val ms = if (sel.isEmpty) 0L
              else sel.map(sc => dot(qe(c), qe(sc))).max
            (c, ms, 7L * rel - 3L * ms)
          }
        val pick = scored.minBy { case (c, _, sc) => (-sc, c) }
        assert(rows((qid, i)) == pick, s"qid=$qid step=$i")
        sel = sel :+ pick._1
      }
    }
    // non-vacuity: on some probe the MMR second pick differs from the
    // plain dot-rank-2 candidate (diversification changed the order)
    val plain2 = (0L until 5L).map { qid =>
      val ranked = qe.keys.filter(_ != qid).toSeq
        .map(c => (c, dot(qe(qid), qe(c))))
        .sortBy { case (c, dt) => (-dt, c) }
      qid -> ranked(1)._1
    }.toMap
    assert((0L until 5L).exists(q => rows((q, 2))._1 != plain2(q)),
      "MMR never deviated from the plain ranking — λ is vacuous")
  }

  // -------------------------------------------------------------------
  // q189: incremental profile maintenance
  // -------------------------------------------------------------------

  test("profileKmvIncremental: merge theorem holds on every column, " +
    "artifact persisted") {
    val d = "/root/testdata/sf0.01"
    val rows = graft.ops.Relational.profileKmvIncremental(spark, d).collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("merge_exact"),
        s"${r.getAs[String]("col_name")}: merged ${r.getAs[Long]("est_merged")}" +
          s" != full ${r.getAs[Long]("est_full")}")
      assert(r.getAs[Long]("est_merged") == r.getAs[Long]("est_full"))
    }
    val art = new java.io.File("target/tmp").listFiles()
      .filter(_.getName.startsWith("kmvprof_"))
    assert(art.nonEmpty && art.forall(a => new java.io.File(a, "_OK").exists()),
      "history sketches must be a committed persisted artifact")
  }

  // -------------------------------------------------------------------
  // q190: retrieval MRR
  // -------------------------------------------------------------------

  test("retrievalMrr: count-before rank equals the full-sort rank, " +
    "rr identity, measurement non-trivial") {
    val d = "/root/testdata/sf0.01"
    val rows = Similarity.retrievalMrr(spark, d).collect()
    assert(rows.length == 5)
    val qe = Ivf.quantizedEmbeddings(spark, d)
      .join(graft.Tables.embeddings(spark, d).select(col("vec_id"), col("label")),
        Seq("vec_id")).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getSeq[Double](r.fieldIndex("q8")).toArray,
        r.getAs[Int]("label")))
    def dot(a: Array[Double], b: Array[Double]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum.toLong
    rows.foreach { r =>
      val qid = r.getAs[Long]("qid")
      val (_, qv, ql) = qe.find(_._1 == qid).get
      val ranked = qe.filter(_._1 != qid)
        .map { case (c, v, l) => (c, l, dot(qv, v)) }
        .sortBy { case (c, _, dt) => (-dt, c) }
      val firstRel = ranked.indexWhere(_._2 == ql) + 1
      assert(r.getAs[Long]("first_rel_rank") == firstRel.toLong, s"qid=$qid")
      assert(r.getAs[Long]("rel_id") == ranked(firstRel - 1)._1)
      assert(r.getAs[Long]("rr_ppm") == 1000000L / firstRel)
    }
    // non-trivial: with 10 random labels the first relevant hit is not
    // always rank 1, and never worse than a sanity bound
    assert(rows.exists(_.getAs[Long]("first_rel_rank") > 1L))
  }

  // -------------------------------------------------------------------
  // q191: k-NN graph stats — plain-Scala graph replay
  // -------------------------------------------------------------------

  test("knnGraphStats: equals a plain-Scala graph replay, triangle-wedge " +
    "identity holds") {
    val row = Similarity.knnGraphStats(spark, sf).collect().head
    val qe = Ivf.quantizedEmbeddings(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum.toLong
    val cents = qe.keys.filter(_ % 100 == 1).toSeq.sorted
    def cellOf(v: Long): Long =
      cents.map(c => (c, dot(qe(v), qe(c))))
        .minBy { case (c, dt) => (-dt, c) }._1
    val cells = qe.keys.groupBy(cellOf)
    val directed = cells.values.flatMap { members =>
      val ms = members.toSeq
      ms.flatMap { a =>
        ms.filter(_ != a).map(b => (a, b, dot(qe(a), qe(b))))
          .sortBy { case (_, b, dt) => (-dt, b) }.take(3)
          .map { case (x, b, _) => (x, b) }
      }
    }.toSet
    val mutual = directed.filter { case (a, b) =>
      a < b && directed.contains((b, a)) }
    val deg = mutual.toSeq.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val wedges = deg.values.map(dg => dg * (dg - 1) / 2).sum
    // ordered triples a < b < c with all three mutual edges
    val triangles = (for {
      (a, b) <- mutual
      c <- deg.keys if b < c && mutual.contains((b, c)) && mutual.contains((a, c))
    } yield (a, b, c)).size
    assert(row.getAs[Long]("n_nodes") == qe.size.toLong)
    assert(row.getAs[Long]("n_edges_mutual") == mutual.size.toLong)
    assert(row.getAs[Long]("n_wedges") == wedges)
    assert(row.getAs[Long]("n_triangles") == triangles.toLong)
    // every triangle closes exactly 3 wedges, a wedge closes at most
    // once → 3·tri ≤ wedges, i.e. the coefficient is a true fraction
    assert(3 * row.getAs[Long]("n_triangles") <= row.getAs[Long]("n_wedges"))
    if (row.getAs[Long]("n_wedges") > 0)
      assert(row.getAs[Long]("clustering_ppm") <= 1000000L)
  }

  // -------------------------------------------------------------------
  // q192: streaming budget admission — receipt invariants
  // -------------------------------------------------------------------

  test("streamBudgetAdmission: arrivals partition the scored corpus, " +
    "admitted tokens respect the budget, closures monotone") {
    val d = "/root/testdata/sf0.01"
    val rows = graft.ops.Pipelines.streamBudgetAdmission(spark, d)
      .orderBy(col("wave")).collect()
    assert(rows.length == 3)
    val scored = graft.ops.TextAnalysis.sourceQualityFrame(spark, d)
      .select(col("doc_id"), col("source"), col("nt")).collect()
    assert(rows.map(_.getAs[Long]("n_arrived")).sum == scored.length.toLong)
    // per-source admitted tokens ≤ budget (hard-close rule replayed)
    val bySource = scored.map(r => (r.getAs[Long]("doc_id"),
      r.getAs[String]("source"), r.getAs[Long]("nt")))
      .sortBy { case (id, _, _) => (id % 3, id) }
      .groupBy(_._2)
    val admittedTokens = bySource.values.map { docs =>
      var cum = 0L; var adm = 0L
      docs.foreach { case (_, _, nt) =>
        cum += nt; if (cum <= 400L) adm += nt }
      adm
    }
    admittedTokens.foreach(t => assert(t <= 400L))
    assert(rows.map(_.getAs[Long]("tokens_admitted")).sum ==
      admittedTokens.sum)
    // closures only grow, and both admit/reject paths are exercised
    val closed = rows.map(_.getAs[Long]("n_sources_closed"))
    assert(closed.zip(closed.tail).forall { case (a, b) => a <= b })
    assert(closed.last > 0)
    assert(rows.map(_.getAs[Long]("n_admitted")).sum <
      scored.length.toLong, "some rejections must happen")
    assert(rows.head.getAs[Long]("n_admitted") > 0, "some admissions too")
  }
}
