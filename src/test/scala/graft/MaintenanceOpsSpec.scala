package graft

import graft.ops.{Dedup, Ivf, Reconcile, Relational, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the round-10 maintenance/governance operators: incremental
  * ANN (q126), delta dedup (q127), quality-aware cluster reps (q128),
  * table profiler (q129), FK audit (q130), erasure cascade (q131). The
  * gate oracle checks values; these cover the semantics the oracle
  * can't see — the persisted-artifact contract (the batch path must
  * work off DISK, not lineage), internal consistency, and invariants. */
class MaintenanceOpsSpec extends AnyFunSuite with SparkFixture {

  private val sf = "/root/testdata/sf0.001"

  test("ivfIncremental (q126): persisted index is complete, batch neighbors come from the index only") {
    val out = Similarity.ivfIncremental(spark, sf).cache()
    val rows = out.collect()
    assert(rows.nonEmpty)
    // neighbors must be corpus docs (index side), queries must be batch docs
    assert(rows.forall(r => r.getAs[Long]("qid") % 10 == 0))
    assert(rows.forall(r => r.getAs[Long]("cid") % 10 != 0))
    // ranks are 1..k contiguous per query, dots non-increasing
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    byQ.values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == (1 to sorted.length))
      val dots = sorted.map(_.getAs[Long]("dot")).toSeq
      assert(dots == dots.sorted.reverse)
    }
    // the artifact physically exists and covers the whole existing corpus
    val idx = spark.read.parquet("target/tmp/ivf_q126/index")
    val nExisting = Tables.embeddings(spark, sf)
      .where(col("vec_id") % 10 =!= 0).count()
    assert(idx.count() == nExisting)
    out.unpersist()
  }

  test("ivfIncremental (q126): default stride self-sizes, index is cell-partitioned, serve scan prunes (r10 verdict item 2)") {
    // library DEFAULT path (centStride = 0 → stride ≈ √n): output
    // invariants must hold without the gate's pinned stride
    val out = Similarity.ivfIncremental(spark, sf)
    val rows = out.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getAs[Long]("qid") % 10 == 0))
    rows.groupBy(_.getAs[Long]("qid")).values.foreach { rs =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to rs.length))
    }
    // the artifact is PHYSICALLY partitioned by cell
    val dirs = new java.io.File("target/tmp/ivf_q126/index")
      .listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("cent_id=")),
      s"index not cell-partitioned: ${dirs.take(3).mkString(",")}")
    assert(dirs.length > 1, "auto stride produced a single cell — pruning untestable")
    // the serve-path scan of the index is DYNAMICALLY pruned (r11
    // verdict item 2): the broadcast join on the partition column must
    // plan a dynamicpruning expression on cent_id — no isin literals,
    // no driver collect (the old static route planned ~√n literals,
    // a real planner tax at the code's own n = 10¹⁰ extrapolation)
    val plan = out.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*dynamicpruning[^\\]]*".r
      .findFirstIn(plan).isDefined,
      s"no dynamicpruning PartitionFilters in serve plan:\n${plan.take(2000)}")
    // and pruning is PHYSICAL on the executed serve plan itself: the
    // index scan's post-execution numFiles metric must come in under
    // the artifact's real file count (DPP skipped untouched cells).
    // This re-executes out AFTER the collect above so the adaptive
    // plan's metrics are final.
    val idxFiles = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isFile) Seq(f)
        else Option(f.listFiles()).map(_.toSeq.flatMap(walk)).getOrElse(Seq.empty)
      walk(new java.io.File("target/tmp/ivf_q126/index"))
        .count(_.getName.startsWith("part-"))
    }
    // AQE wraps the executed plan in stages whose scans collectLeaves
    // can't see — descend through adaptive wrappers explicitly
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val scanned = scans(out.queryExecution.executedPlan)
      .find(_.relation.location.rootPaths.exists(_.toString.contains("ivf_q126/index")))
      .map(_.metrics("numFiles").value)
    assert(scanned.isDefined, "no index FileSourceScanExec in executed serve plan")
    assert(scanned.get < idxFiles,
      s"DPP did not physically prune: scanned ${scanned.get} of $idxFiles files")
  }

  test("deltaDedup (q127): planted near-dup of a corpus doc is rejected, admission partitions the batch") {
    val out = Dedup.deltaDedup(spark, sf).cache()
    val n = out.count()
    val nNew = Tables.documents(spark, sf).where(col("doc_id") % 7 === 0).count()
    assert(n == nNew) // every new doc gets a verdict
    // admitted <=> zero corpus dups; first_dup set iff rejected
    assert(out.where(col("admitted") && col("n_corpus_dups") =!= 0).count() == 0)
    assert(out.where(!col("admitted") && col("first_dup").isNull).count() == 0)
    // first_dup points into the corpus side of the split
    assert(out.where(col("first_dup").isNotNull && col("first_dup") % 7 === 0).count() == 0)
    out.unpersist()
  }

  test("deltaDedup index artifact: signatures + bands persisted, bands derive from the sig table") {
    Dedup.deltaDedup(spark, sf).collect()
    val sig = spark.read.parquet("target/tmp/delta_q127/sig")
    val bands = spark.read.parquet("target/tmp/delta_q127/bands")
    val nSig = sig.count()
    assert(nSig > 0)
    assert(bands.count() == nSig * Dedup.BANDS) // 8 band rows per signed doc
    assert(sig.where(col("doc_id") % 7 === 0).count() == 0) // corpus only
  }

  test("clusterReps (q128): rep is the longest member (ties -> min id), one rep per cluster") {
    val out = Dedup.clusterReps(spark, sf).cache()
    val rows = out.collect()
    assert(rows.nonEmpty)
    val byCluster = rows.groupBy(_.getAs[Long]("cluster"))
    byCluster.values.foreach { rs =>
      assert(rs.map(_.getAs[Long]("rep_id")).distinct.length == 1)
      val rep = rs.filter(_.getAs[Boolean]("kept"))
      assert(rep.length == 1)
      val best = rs.minBy(r => (-r.getAs[Int]("nw").toLong, r.getAs[Long]("doc_id")))
      assert(rep.head.getAs[Long]("doc_id") == best.getAs[Long]("doc_id"))
    }
    // clusters agree with q38's components
    val q38 = Dedup.dupClusters(spark, sf)
      .select(col("doc_id"), col("cluster")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach(r =>
      assert(q38(r.getAs[Long]("doc_id")) == r.getAs[Long]("cluster")))
    out.unpersist()
  }

  test("tableProfile (q129): one row per column, measures match direct queries") {
    val out = Relational.tableProfile(spark, sf).collect()
    assert(out.map(_.getAs[String]("col_name")).toSeq.sorted.length == 6)
    val o = Tables.orders(spark, sf)
    val n = o.count()
    assert(out.forall(_.getAs[Long]("n_rows") == n))
    val okRow = out.find(_.getAs[String]("col_name") == "o_orderkey").get
    assert(okRow.getAs[Long]("n_distinct") ==
      o.select(countDistinct(col("o_orderkey"))).head.getLong(0))
    assert(okRow.getAs[Double]("min_num") ==
      o.agg(min(col("o_orderkey"))).head.getLong(0).toDouble)
    val stRow = out.find(_.getAs[String]("col_name") == "o_orderstatus").get
    assert(stRow.isNullAt(stRow.fieldIndex("min_num")))
    assert(stRow.getAs[String]("min_str") ==
      o.agg(min(col("o_orderstatus"))).head.getString(0))
  }

  test("fkAudit (q130): driver-generated star schema has zero orphans; a planted orphan is counted") {
    val out = Reconcile.fkAudit(spark, sf).collect()
    assert(out.length == 7)
    assert(out.forall(_.getAs[Long]("n_orphans") == 0L))
    assert(out.forall(_.getAs[Long]("n_orphan_keys") == 0L))
    // planted orphan: audit a child with rows pointing at a missing parent
    val s = spark
    import s.implicits._
    val child = Seq((1L, 10L), (2L, 10L), (3L, 99L), (4L, 98L), (5L, 99L))
      .toDF("id", "fk")
    val parent = Seq(10L).toDF("pk")
    val m = new java.io.File("target/tmp/fk_spec"); m.mkdirs()
    child.write.mode("overwrite").parquet("target/tmp/fk_spec/child")
    parent.write.mode("overwrite").parquet("target/tmp/fk_spec/parent")
    val audited = spark.read.parquet("target/tmp/fk_spec/child").select(col("fk").as("k"))
      .join(broadcast(spark.read.parquet("target/tmp/fk_spec/parent")
        .select(col("pk").as("k")).distinct().withColumn("ex", lit(1))), Seq("k"), "left")
      .agg(sum(when(col("ex").isNull, 1L).otherwise(0L)).as("n_orphans"),
        countDistinct(when(col("ex").isNull, col("k"))).as("n_orphan_keys")).head
    assert(audited.getAs[Long]("n_orphans") == 3 && audited.getAs[Long]("n_orphan_keys") == 2)
  }

  test("fkFactEdge (q130): equals the broadcast edge and plans a hint-free shuffle join (r10 verdict item 1)") {
    // correctness: the fact path must emit the identical audit row as
    // the broadcast path on every edge shape — matched-only
    // (lineitem->orders) and planted-orphan
    val factRow = Reconcile.fkFactEdge("lineitem.l_orderkey->orders",
      Tables.lineitem(spark, sf), "l_orderkey",
      Tables.orders(spark, sf), "o_orderkey").head
    assert(factRow.getAs[Long]("n_child") == Tables.lineitem(spark, sf).count())
    assert(factRow.getAs[Long]("n_orphans") == 0L)
    assert(factRow.getAs[Long]("n_orphan_keys") == 0L)
    val s = spark
    import s.implicits._
    val child = Seq((1L, 10L), (2L, 10L), (3L, 99L), (4L, 98L), (5L, 99L))
      .toDF("id", "fk")
    val parent = Seq(10L, 11L).toDF("pk")
    for (bloom <- Seq(false, true)) {
      val planted = Reconcile.fkFactEdge("t", child, "fk", parent, "pk",
        bloom = bloom).head
      assert(planted.getAs[Long]("n_child") == 5L, s"bloom=$bloom")
      assert(planted.getAs[Long]("n_orphans") == 3L, s"bloom=$bloom")
      assert(planted.getAs[Long]("n_orphan_keys") == 2L, s"bloom=$bloom")
    }
    // plan shape: with auto-broadcast OFF (both planner and AQE), a
    // forced broadcast() hint would still produce a BroadcastExchange —
    // the fact edge must not have one (the r10 bug), while the audit's
    // dim route keeps its hint by design
    val thresholds = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = thresholds.map(k => k -> spark.conf.getOption(k))
    thresholds.foreach(k => spark.conf.set(k, "-1"))
    try {
      val factPlan = Reconcile.fkFactEdge("lineitem.l_orderkey->orders",
        Tables.lineitem(spark, sf), "l_orderkey",
        Tables.orders(spark, sf), "o_orderkey")
        .queryExecution.executedPlan.toString
      assert(!factPlan.contains("BroadcastExchange"),
        "fact-scale FK edge still carries a broadcast hint")
      assert(!factPlan.contains("BroadcastHashJoin"))
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("dedupDelta (q142): every delta class materializes on a planted pair graph") {
    val s = spark
    import s.implicits._
    // full-corpus pair table; snapshots A = id%10!=0, B = id%10!=1.
    // Planted shapes (decile-0 ids arrive in B, decile-1 ids leave):
    //  appeared {10,20}; vanished {11,21}; merged {2,3}+{4,5} via 30;
    //  split {6,7,8,9,41} -> {6,7}+{8,9} (shrunk x2); grown {12,13}+40;
    //  unchanged {14,15}; churned {16,17,51} -> {16,17,60}
    val pairs = Seq(
      (10L, 20L), (11L, 21L),
      (2L, 3L), (4L, 5L), (3L, 30L), (30L, 4L),
      (6L, 7L), (8L, 9L), (6L, 41L), (41L, 8L),
      (12L, 13L), (13L, 40L),
      (14L, 15L),
      (16L, 17L), (17L, 51L), (17L, 60L)).toDF("d1", "d2")
    val out = Dedup.dedupDeltaFromPairs(pairs, _ % 10 =!= 0, _ % 10 =!= 1)
      .collect()
      .map(r => (r.getAs[String]("side"), r.getAs[Long]("cluster")) ->
        ((r.getAs[Long]("n_members"), r.getAs[Long]("n_linked"),
          r.getAs[Long]("n_exclusive"), r.getAs[String]("delta_class"))))
      .toMap
    assert(out == Map(
      ("A", 6L) -> ((5L, 2L, 1L, "split")),
      ("A", 11L) -> ((2L, 0L, 2L, "vanished")),
      ("B", 2L) -> ((5L, 2L, 1L, "merged")),
      ("B", 6L) -> ((2L, 1L, 0L, "shrunk")),
      ("B", 8L) -> ((2L, 1L, 0L, "shrunk")),
      ("B", 10L) -> ((2L, 0L, 2L, "appeared")),
      ("B", 12L) -> ((3L, 1L, 1L, "grown")),
      ("B", 14L) -> ((2L, 1L, 0L, "unchanged")),
      ("B", 16L) -> ((3L, 1L, 1L, "churned"))), s"got: $out")
  }

  test("dedupDelta (q142) gate face: invariants hold, totals reconcile with an independent closure") {
    val out = Dedup.dedupDelta(spark, sf).collect()
    val bClasses = Set("appeared", "merged", "grown", "churned", "shrunk", "unchanged")
    out.foreach { r =>
      val (side, cl, linked, cls) = (r.getAs[String]("side"),
        r.getAs[Long]("cluster"), r.getAs[Long]("n_linked"),
        r.getAs[String]("delta_class"))
      // cluster id = min member id, so it must itself be in the snapshot
      if (side == "B") {
        assert(cl % 10 != 1 && bClasses(cls))
        assert((cls == "appeared") == (linked == 0))
        assert((cls == "merged") == (linked >= 2))
      } else {
        assert(cl % 10 != 0 && Set("vanished", "split")(cls))
        assert(if (cls == "vanished") linked == 0 else linked >= 2)
      }
    }
    // B-side members total == an independently recomputed B closure size
    val pairsB = Dedup.minhashLshPairsShared(spark, sf)
      .where(col("d1") % 10 =!= 1 && col("d2") % 10 =!= 1)
      .select(col("d1"), col("d2"))
    val nB = Dedup.connectedComponents(pairsB).count()
    assert(out.filter(_.getAs[String]("side") == "B")
      .map(_.getAs[Long]("n_members")).sum == nB)
  }

  test("incrementalComponents (q145): update equals from-scratch closure; planted condensation merges across prior components") {
    // gate face: incremental off the persisted labels must equal q38's
    // from-scratch clustering row for row
    val inc = Dedup.incrementalComponents(spark, sf).collect().toSeq
    val scratch = Dedup.dupClusters(spark, sf).collect().toSeq
    assert(inc == scratch, s"incremental diverged: ${inc.take(3)} vs ${scratch.take(3)}")
    assert(new java.io.File("target/tmp/inccc_q145/labels").exists())
    // planted: prior comps {1,2}->1 and {5,6}->5; new edges 2-9, 9-5
    // (merges BOTH prior comps with new doc 9) and 7-8 (fresh pair)
    val s = spark
    import s.implicits._
    val labels = Seq((1L, 1L), (2L, 1L), (5L, 5L), (6L, 5L)).toDF("id", "comp")
    val newEdges = Seq((2L, 9L), (9L, 5L), (7L, 8L)).toDF("d1", "d2")
    val got = Dedup.incrementalComponentsFrom(labels, newEdges).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("cluster"), r.getAs[Long]("cluster_size")))).toMap
    assert(got == Map(
      1L -> ((1L, 5L)), 2L -> ((1L, 5L)), 5L -> ((1L, 5L)),
      6L -> ((1L, 5L)), 9L -> ((1L, 5L)),
      7L -> ((7L, 2L)), 8L -> ((7L, 2L))), s"got: $got")
  }

  test("embeddingDrift (q143): every vector routed once, shares floor-sum to 1e6, delta consistent") {
    val out = Similarity.embeddingDrift(spark, sf).collect()
    assert(out.length > 1, "need >1 cell for a drift report")
    // the anchor grid is the bounded literal: cells come only from the
    // <= 64 eligible anchor ids, fixed across runs
    assert(out.length <= 64)
    assert(out.forall { r =>
      val c = r.getAs[Long]("cent_id"); c % 100 == 0 && c < 6400 })
    val emb = Tables.embeddings(spark, sf)
    assert(out.map(_.getAs[Long]("n_a")).sum ==
      emb.where(col("vec_id") % 10 =!= 0).count())
    assert(out.map(_.getAs[Long]("n_b")).sum ==
      emb.where(col("vec_id") % 10 =!= 1).count())
    for (side <- Seq("share_a_ppm", "share_b_ppm")) {
      val tot = out.map(_.getAs[Long](side)).sum
      assert(tot <= 1000000L && tot > 1000000L - out.length,
        s"$side floor-sum out of range: $tot")
    }
    out.foreach { r =>
      assert(r.getAs[Long]("abs_delta_ppm") ==
        math.abs(r.getAs[Long]("share_a_ppm") - r.getAs[Long]("share_b_ppm")))
    }
  }

  test("annRecallAudit (q144): recall is the exact hit fraction of the true top-k") {
    val out = Similarity.annRecallAudit(spark, sf).collect()
    assert(out.map(_.getAs[Long]("qid")).toSet == Set(0L, 1L, 2L, 3L, 4L))
    out.foreach { r =>
      val (t, h, p) = (r.getAs[Long]("n_truth"), r.getAs[Long]("n_hit"),
        r.getAs[Long]("recall_ppm"))
      assert(t == 10L)
      assert(h >= 0L && h <= t)
      assert(p == 1000000L * h / t)
    }
    // recompute one probe's hits from the two public faces directly
    val truth = Similarity.quantizedTopK(spark, sf, 10)
      .where(col("qid") === 0).collect().map(_.getAs[Long]("cid")).toSet
    val ann = Similarity.ivfTopKQuantized(spark, sf, 10)
      .where(col("qid") === 0).collect().map(_.getAs[Long]("cid")).toSet
    assert(out.find(_.getAs[Long]("qid") == 0L).get.getAs[Long]("n_hit") ==
      (truth & ann).size.toLong)
  }

  test("contaminationSpans (q147): doc set and gram counts match q69; span identities hold") {
    val spans = Dedup.contaminationSpans(spark, sf).collect()
    val q69 = Dedup.decontaminate(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_shared_grams"), r.getAs[Long]("n_bench_docs")))).toMap
    assert(spans.nonEmpty)
    // same contaminated-doc set, same gram/doc counts as the q69 face
    assert(spans.map(_.getAs[Long]("doc_id")).toSet == q69.keySet)
    spans.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert((r.getAs[Long]("n_shared_grams"), r.getAs[Long]("n_bench_docs")) == q69(id))
      val (nSpans, cov, maxRun) = (r.getAs[Long]("n_spans"),
        r.getAs[Long]("covered_tokens"), r.getAs[Long]("max_run_tokens"))
      val (p0, p1) = (r.getAs[Long]("first_pos"), r.getAs[Long]("last_pos"))
      assert(nSpans >= 1 && maxRun >= 3 && cov >= maxRun)
      assert(p0 >= 0 && p1 >= p0 && cov <= p1 - p0 + 1)
      // n_spans disjoint spans each of >= w tokens
      assert(cov >= nSpans * 3)
    }
  }

  test("erasureCascade (q131): counts satisfy the cascade identities") {
    val out = Reconcile.erasureCascade(spark, sf).collect()
    val m = out.map(r => r.getAs[String]("table_name") ->
      (r.getAs[Long]("n_before"), r.getAs[Long]("n_erased"), r.getAs[Long]("n_after"))).toMap
    assert(m.keySet == Set("customer", "orders", "lineitem"))
    m.values.foreach { case (b, e, a) => assert(a == b - e && e >= 0 && a >= 0) }
    // erased orders == orders whose customer is a subject (direct recompute)
    val subj = Tables.customer(spark, sf).where(col("c_custkey") % 97 === 0)
      .select(col("c_custkey"))
    val expOrders = Tables.orders(spark, sf)
      .join(subj, col("o_custkey") === col("c_custkey"), "left_semi").count()
    assert(m("orders")._2 == expOrders)
    assert(m("customer")._2 == subj.count())
  }

  test("lshQualityAudit (q151): planted exact dup is found by both sides; bounds hold at the face") {
    val s = spark
    import s.implicits._
    // sample membership = doc_id % 29 == 0; 29/58 are identical (truth
    // AND lsh must both find them), 87 is unique, 1/2 are non-sample
    def txt(seed: Int): String =
      (0 until 24).map(i => s"v${(seed * 37 + i * 11) % 9973}y$i").mkString(" ")
    val docs = Seq(
      (29L, txt(1)), (58L, txt(1)), (87L, txt(2)), (1L, txt(3)), (2L, txt(4)))
      .map { case (id, t) => (id, t, "en", "srcA", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = "target/tmp/lshq_spec"
    docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // columns: n_lsh, n_lsh_true, n_truth_sample, n_hit_sample,
    //          precision_ppm, recall_ppm
    val r = Dedup.lshQualityAudit(spark, dir).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((1L, 1L, 1L, 1L)),
      s"expected exactly the planted pair on all legs, got $r")
    assert(r.getLong(4) == 1000000L && r.getLong(5) == 1000000L)
    // face bounds at sf0.001: verified pairs never exceed emitted pairs,
    // sample hits never exceed sampled truth; ppm in range or NULL
    val f = Dedup.lshQualityAudit(spark, sf).collect().head
    val (nl, nlt, nt, nh) = (f.getLong(0), f.getLong(1), f.getLong(2), f.getLong(3))
    assert(nlt <= nl && nh <= nt)
    if (nl > 0) assert(f.getLong(4) >= 0 && f.getLong(4) <= 1000000L)
    else assert(f.isNullAt(4))
    if (nt > 0) assert(f.getLong(5) >= 0 && f.getLong(5) <= 1000000L)
    else assert(f.isNullAt(5))
  }

  test("lshQualityAuditCanaried (q157): recall leg is load-bearing — non-NULL, canary truth floor, bounds") {
    // columns: n_canaries, n_lsh, n_lsh_true, n_truth_sample,
    //          n_hit_sample, precision_ppm, recall_ppm
    val f = Dedup.lshQualityAuditCanaried(spark, sf, mod = 29).collect().head
    val nCan = f.getLong(0)
    assert(nCan > 0, "no canaries planted — sample stratum empty?")
    // every 70%-prefix canary of a shingle-able sampled doc forms a
    // truth pair with its source INSIDE the stratum — the recall
    // denominator is non-zero by construction
    val nTruth = f.getLong(3)
    assert(nTruth > 0, "canaries planted but no sampled truth — leg still dead")
    assert(!f.isNullAt(6), "recall_ppm NULL despite planted canaries")
    assert(f.getLong(6) >= 0 && f.getLong(6) <= 1000000L)
    assert(f.getLong(2) <= f.getLong(1) && f.getLong(4) <= nTruth)
    // canary ids are negative and disjoint: corpus counts unchanged —
    // q151 on the same dir must still see its own (canary-free) legs
    val base = Dedup.lshQualityAudit(spark, sf).collect().head
    assert(base.getLong(2) <= nTruth,
      "augmented truth cannot be smaller than the canary-free truth")
  }

  test("ivfBalanceAudit (q152): hand-fixture skew flags exactly the hot/cold cells; face identities hold") {
    val s = spark
    import s.implicits._
    // 3 centroids under the pinned stride (ids ≡ 1 mod 100): axis-exact
    // vectors make every assignment unambiguous (no dot ties)
    val rows =
      (1L to 13L).map(id => (id, Seq(1.0f, 0.0f), 0)) ++
        Seq((101L, Seq(0.0f, 1.0f), 0), (102L, Seq(0.0f, 1.0f), 0),
          (201L, Seq(-1.0f, -1.0f), 0))
    val dir = "target/tmp/ivfbal_spec"
    rows.toDF("vec_id", "embedding", "label").coalesce(2)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val r = Similarity.ivfBalanceAudit(spark, dir, centStride = 100).collect().head
    // occupancies 13 / 2 / 1 over 16 vectors, mean 5.33:
    //   max/mean ppm = (1e6·13·3) div 16 = 2437500
    //   over-2x: 13·3 > 32 → the one hot cell; under-half: 2·occ·3 < 16 → occ ∈ {1,2}
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5), r.getLong(6)) ==
      ((3L, 16L, 1L, 13L, 2437500L, 1L, 2L)))
    // face identities at sf0.001 (pinned gate stride)
    val f = Similarity.ivfBalanceAudit(spark, sf, centStride = 100).collect().head
    assert(f.getLong(1) == Tables.embeddings(spark, sf).count()) // every vector assigned once
    assert(f.getLong(2) <= f.getLong(3))
    assert(f.getLong(4) >= 1000000L) // max >= mean by construction
    assert(f.getLong(5) + f.getLong(6) <= f.getLong(0))
  }

  test("ivfCoverageAudit (q156): gate identities; deleting one cell's files reports exactly that cell") {
    // gate face: the un-indexed daily batch (% 10 == 0) is the planted hole
    val out = Similarity.ivfCoverageAudit(spark, sf, centStride = 100)
      .collect().head
    val nCorpus = out.getAs[Long]("n_corpus")
    val nIndexed = out.getAs[Long]("n_indexed")
    val nMissing = out.getAs[Long]("n_missing")
    assert(nCorpus == Tables.embeddings(spark, sf).count())
    assert(nCorpus == nIndexed + nMissing, "gate split must reconcile exactly")
    assert(nMissing > 0 && out.getAs[Long]("n_stale_cells") > 0)
    assert(out.getAs[Long]("max_cell_missing") <= nMissing)
    // damage a PRIVATE index clone and delete ONE cell's files. The
    // gate artifact is the r14 shared fingerprint-keyed fixture —
    // read-only by contract (damaging it in place would corrupt every
    // later q156/q159 face in this checkout) — so the spec builds its
    // own copy of the same % 10 != 0 index.
    val qe = Ivf.quantizedEmbeddings(spark, sf)
    val cent = qe.where(col("vec_id") % 100 === 1)
      .select(col("vec_id").as("cent_id"), col("q8").as("cq"))
    val work = new java.io.File("target/tmp/ivfq156_spec")
    scala.reflect.io.Path(work).deleteRecursively()
    try {
      val idxDir = new java.io.File(work, "index")
      Ivf.assignCells(spark, qe.where(col("vec_id") % 10 =!= 0), cent)
        .select(col("vec_id"), col("cent_id"))
        .repartition(col("cent_id")).write.mode("overwrite")
        .partitionBy("cent_id").parquet(idxDir.getPath)
      val cells = idxDir.listFiles().filter(_.getName.startsWith("cent_id="))
      assert(cells.length > 1, "need >=2 cells to test per-cell reporting")
      val victim = cells.minBy(_.getName)
      val victimCell = victim.getName.stripPrefix("cent_id=").toLong
      val nVictim = spark.read.parquet(victim.getPath).count()
      assert(nVictim > 0)
      scala.reflect.io.Path(victim).deleteRecursively()
      // audit the INDEXED slice against the damaged artifact: the missing
      // set must be exactly the victim cell's vectors, routed to it
      val perCell = Similarity.ivfCoverageByCell(spark,
        qe.where(col("vec_id") % 10 =!= 0), cent,
        spark.read.parquet(idxDir.getPath)).collect()
      assert(perCell.length == 1, s"expected 1 stale cell, got ${perCell.length}")
      assert(perCell.head.getLong(0) == victimCell)
      assert(perCell.head.getAs[Long]("n_missing") == nVictim)
    } finally { scala.reflect.io.Path(work).deleteRecursively(); () }
  }

  test("ivfCoverageRepair (q159): hole closed on disk, receipt reconciles, only stale cells gain files") {
    // workDir seam: keep the repaired clone on disk so the file-level
    // append-semantics checks below can inspect it (the default path is
    // a UUID work dir deleted inside the operator — r14 fixture rework)
    val work = new java.io.File("target/tmp/ivfq159_spec")
    scala.reflect.io.Path(work).deleteRecursively()
    try {
      val r = Similarity.ivfCoverageRepair(spark, sf, centStride = 100,
        workDir = work.getPath).collect().head
      assert(r.getAs[Long]("n_missing_after") == 0L)
      assert(r.getAs[Long]("n_missing_before") == r.getAs[Long]("n_repaired"))
      val qe = Ivf.quantizedEmbeddings(spark, sf)
      val idx = spark.read.parquet(s"${work.getPath}/index")
      assert(idx.count() == qe.count() && r.getAs[Long]("n_indexed_after") == qe.count())
      // the artifact's own per-cell audit agrees it is whole
      val cent = qe.where(col("vec_id") % 100 === 1)
        .select(col("vec_id").as("cent_id"), col("q8").as("cq"))
      assert(Similarity.ivfCoverageByCell(spark, qe, cent, idx).isEmpty)
      // append semantics: exactly the stale cells gained a second file —
      // healthy cells keep their single build-time file (never rewritten)
      val cellDirs = new java.io.File(work, "index")
        .listFiles().filter(_.getName.startsWith("cent_id="))
      val gained = cellDirs.count(
        _.listFiles().count(_.getName.startsWith("part-")) > 1)
      assert(gained == r.getAs[Long]("n_cells_touched"),
        s"$gained cells gained files, receipt says ${r.getAs[Long]("n_cells_touched")}")
    } finally { scala.reflect.io.Path(work).deleteRecursively(); () }
  }

  test("hybridRetrievalRrf (q160): rrf recomputed from ranks; per-query contiguity and ordering") {
    val rows = Similarity.hybridRetrievalRrf(spark, sf).collect()
    assert(rows.nonEmpty)
    def optRank(r: org.apache.spark.sql.Row, i: Int): Option[Int] =
      if (r.isNullAt(i)) None else Some(r.getInt(i))
    rows.foreach { r =>
      val (rv, rl) = (optRank(r, 2), optRank(r, 3))
      assert(rv.isDefined || rl.isDefined, "candidate in neither leg")
      val expect = rv.map(x => 1000000L / (60 + x)).getOrElse(0L) +
        rl.map(x => 1000000L / (60 + x)).getOrElse(0L)
      assert(r.getLong(4) == expect, s"rrf mismatch: $r")
      assert(rv.forall(x => x >= 1 && x <= 20) && rl.forall(x => x >= 1 && x <= 20))
    }
    rows.groupBy(_.getLong(0)).values.foreach { qs =>
      val sorted = qs.sortBy(_.getInt(5))
      assert(sorted.map(_.getInt(5)).toSeq == (1 to sorted.length)) // contiguous
      val scores = sorted.map(_.getLong(4))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        "fused score must be non-increasing in fused_rank")
    }
  }

  test("fusionDiagnostics (q162): both-leg members always outrank single-leg — n_fused_both = min(overlap, 10); rows reconcile") {
    val rows = Similarity.fusionDiagnostics(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (ov, both, dOnly, lOnly) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      // RRF arithmetic: worst both-leg score (rank 10+10) = 2·10⁶/70 >
      // best single-leg score 10⁶/61 — so every overlap member lands in
      // the fused top-10 until the 10 slots fill
      assert(both == math.min(ov, 10L), s"both=$both overlap=$ov")
      assert(both + dOnly + lOnly <= 10L)
      assert(Seq(ov, both, dOnly, lOnly).forall(x => x >= 0 && x <= 10))
    }
  }
}
