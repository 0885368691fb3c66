package graft

import java.sql.Timestamp

import graft.ops.{Dedup, Ivf, Sampling, Similarity, Temporal, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the round-5 training-pipeline operators: temporal joins
  * (as-of, bucketed range), deterministic stratified sampling, int8
  * quantization, TF-IDF / BM25. The gate faces are oracle-checked against
  * DuckDB (q27/q28/q45-q48); these specs cover the semantics the oracle
  * can't see — tie rules, window boundaries, partition-layout
  * independence, quantization error bounds. */
class TrainingOpsSpec extends AnyFunSuite with SparkFixture {

  private val sf = "/root/testdata/sf0.001"

  private def ts(ms: Long) = new Timestamp(ms)

  test("asOfJoin: at-or-before, exact-ts tie counts, max right id wins, no-match is null") {
    val s = spark
    import s.implicits._
    val left = Seq(
      (1L, ts(10000), "p_at10"),  // right rows at exactly 10000 qualify
      (1L, ts(4000), "p_at4"),    // before every right row → null
      (2L, ts(100000), "p_k2")    // key with no right rows → null
    ).toDF("user_id", "ts", "pname")
    val right = Seq(
      (1L, ts(5000), 1L),
      (1L, ts(10000), 2L),
      (1L, ts(10000), 3L)         // tie on ts: larger id must win
    ).toDF("user_id", "ts", "rid")
    val got = Temporal.asOfJoin(left, right, "user_id", "ts", "rid")
      .select(col("pname"), col("matched_rid"))
      .collect().map(r => r.getString(0) -> (if (r.isNullAt(1)) null else r.getLong(1)))
      .toMap
    assert(got("p_at10") == 3L)
    assert(got("p_at4") == null)
    assert(got("p_k2") == null)
  }

  test("asOfJoin: payload carried atomically — a NULL field never tears across right rows") {
    val s = spark
    import s.implicits._
    // newest right row has coupon=NULL; the match must return THAT row's
    // (price=20, coupon=NULL), not price=20 with the older row's coupon
    val left = Seq((1L, ts(10000), "p")).toDF("user_id", "ts", "pname")
    val right = Seq(
      (1L, ts(5000), 1L, Some(10.0), Some("A")),
      (1L, ts(9000), 2L, Some(20.0), None: Option[String])
    ).toDF("user_id", "ts", "rid", "price", "coupon")
    val row = Temporal.asOfJoin(left, right, "user_id", "ts", "rid")
      .select(col("matched_rid"), col("matched_price"), col("matched_coupon"))
      .head()
    assert(row.getLong(0) == 2L && row.getDouble(1) == 20.0 && row.isNullAt(2))
  }

  test("rangeJoin: [t0, t0+w) boundaries exact, bucket-crossing rows found") {
    val s = spark
    import s.implicits._
    // anchor at 1999ms with a 1000ms window → interval [1999, 2999),
    // spanning buckets 1 and 2 at bucketMs=1000
    val left = Seq((7L, ts(1999), "a")).toDF("user_id", "ts", "aid")
    val right = Seq(
      (7L, ts(1998), 1.0),  // before t0 → out
      (7L, ts(1999), 2.0),  // == t0 → in
      (7L, ts(2998), 3.0),  // last ms of window, NEXT bucket → in
      (7L, ts(2999), 4.0),  // == t1 → out
      (8L, ts(2000), 5.0)   // wrong key → out
    ).toDF("user_id", "ts", "value")
    val got = Temporal.rangeJoin(left, right, "user_id", "ts",
        windowMs = 1000L, bucketMs = 1000L)
      .select(col("value")).collect().map(_.getDouble(0)).sorted
    assert(got.toSeq == Seq(2.0, 3.0))
    intercept[IllegalArgumentException] {
      Temporal.rangeJoin(left, right, "user_id", "ts", 2000L, 1000L)
    }
  }

  test("stratifiedSample: membership independent of partition layout; rates honored") {
    val ev = Tables.events(spark, sf)
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      Sampling.stratifiedSample(df, col("event_id").cast("string"),
          col("event_type"), Sampling.gateRates)
        .select(col("event_id")).collect().map(_.getLong(0)).sorted.toSeq
    val a = ids(ev)
    val b = ids(ev.repartition(7)) // layout must not change membership
    assert(a == b && a.nonEmpty)
    // rate 100 stratum: every purchase kept
    val nPurch = ev.where(col("event_type") === "purchase").count()
    val kept = Sampling.stratifiedSample(ev, col("event_id").cast("string"),
      col("event_type"), Sampling.gateRates)
    assert(kept.where(col("event_type") === "purchase").count() == nPurch)
    // a stratum missing from the rates map drops entirely
    val noError = Sampling.stratifiedSample(ev, col("event_id").cast("string"),
      col("event_type"), Sampling.gateRates - "error")
    assert(noError.where(col("event_type") === "error").count() == 0)
    // 10% stratum lands near 10% (hash uniformity, wide tolerance)
    val nView = ev.where(col("event_type") === "view").count().toDouble
    val nViewKept = kept.where(col("event_type") === "view").count().toDouble
    assert(nViewKept / nView > 0.03 && nViewKept / nView < 0.25)
  }

  test("ppsSample: layout-independent, expected size honored, weight-proportional, cap rows always kept") {
    val s = spark
    import s.implicits._
    val orders = Tables.orders(spark, sf)
      .withColumn("cents", expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      Sampling.ppsSample(df, col("o_orderkey").cast("string"), col("cents"), 1000)
        .select(col("o_orderkey")).collect().map(_.getLong(0)).sorted.toSeq
    val a = ids(orders)
    val b = ids(orders.repartition(7)) // membership is a pure row function
    assert(a == b && a.nonEmpty)
    // Bernoulli PPS: E[|sample|] = k (minus capping slack); sd ≈ √k.
    // ±6σ window — deterministic data, so this is a fixed assertion
    assert(math.abs(a.size - 1000) < 200, s"sample size ${a.size} far from k=1000")
    // weight-proportionality: mean weight of sampled rows must exceed the
    // corpus mean (heavier rows are likelier by construction)
    val meanAll = orders.agg(avg(col("cents"))).head.getDouble(0)
    val meanSamp = orders.where(col("o_orderkey").isInCollection(a.take(2000)))
      .agg(avg(col("cents"))).head.getDouble(0)
    assert(meanSamp > meanAll, f"sampled mean $meanSamp%.0f <= corpus mean $meanAll%.0f")
    // min(1,·) cap: a row with k·w >= W is ALWAYS included
    val tiny = Seq((1L, 1L), (2L, 1L), (3L, 1000000L)).toDF("id", "w")
    val got = Sampling.ppsSample(tiny, col("id").cast("string"), col("w"), 2)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(got.contains(3L), "dominant-weight row must always be sampled")
  }

  test("quantizeInt8: |q| <= 127, max component hits ±127, dequant error within half-step") {
    val q = Ivf.quantizeInt8(Tables.embeddings(spark, sf))
      .select(col("vec_id"), col("embedding"), col("q8"))
      .collect()
    assert(q.nonEmpty)
    q.foreach { r =>
      val x = r.getSeq[Float](1).map(_.toDouble)
      val qv = r.getSeq[Double](2)
      val ma = x.map(math.abs).max
      assert(qv.forall(v => math.abs(v) <= 127.0))
      if (ma > 0) {
        assert(qv.map(math.abs).max == 127.0) // scale is tight
        val step = ma / 127.0
        x.zip(qv).foreach { case (xi, qi) =>
          // q = floor(x/step + .5) → |q*step - x| <= step/2 (+1 ulp slack)
          assert(math.abs(qi * step - xi) <= step / 2 + 1e-9,
            s"vec ${r.getLong(0)}: $xi vs ${qi * step}")
        }
      } else assert(qv.forall(_ == 0.0))
    }
  }

  test("quantizedEmbeddings: served off a fingerprint-keyed on-disk artifact, lossless, multi-file (r11 verdict item 1)") {
    val served = Ivf.quantizedEmbeddings(spark, sf)
    val dir = new java.io.File(
      s"target/tmp/quant8_${Tables.sourceFingerprint(sf, "embeddings")}")
    // the artifact physically exists, is committed, and carries enough
    // files that a downstream scan parallelizes (the r11 1-partition
    // cache lesson)
    assert(new java.io.File(dir, "_OK").exists(), s"no committed artifact at $dir")
    val parts = new java.io.File(dir, "q8").listFiles()
      .count(_.getName.startsWith("part-"))
    assert(parts > 1, s"artifact is $parts file(s) — downstream scans would serialize")
    // the disk leg is LOSSLESS: artifact contents == a live quantize
    val live = Ivf.quantizeInt8(Tables.embeddings(spark, sf))
      .select(col("vec_id"), col("q8")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val disk = served.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(disk == live)
  }

  test("embeddingValidation (q153): planted dup-id/ragged/zero/NaN/Inf fixture counts exact; clean face all-green") {
    val s = spark
    import s.implicits._
    val fix = Seq(
      (1L, Seq(1.0f, 2.0f)), (2L, Seq(0.5f, -1.0f)), (3L, Seq(2.0f, 2.0f)),
      (4L, Seq(1.0f, 1.0f)), (4L, Seq(3.0f, 3.0f)), // duplicate id
      (6L, Seq(1.0f, 2.0f, 3.0f)), // ragged (3 dims)
      (7L, Seq(0.0f, 0.0f)), // zero vector
      (8L, Seq(Float.NaN, 1.0f)), // NaN component
      (9L, Seq(Float.PositiveInfinity, 1.0f))) // Inf component
      .toDF("vec_id", "embedding")
    val r = Similarity.embeddingValidationOn(fix.repartition(3)).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5), r.getLong(6)) ==
      ((9L, 8L, 2L, 3L, 2L, 1L, 2L)))
    // the real table is clean: unique ids, uniform dims, no zero/NaN/Inf
    val f = Similarity.embeddingValidation(spark, sf).collect().head
    assert(f.getLong(0) == f.getLong(1)) // ids unique
    assert(f.getLong(2) == f.getLong(3) && f.getLong(4) == 1L) // uniform dims
    assert(f.getLong(5) == 0L && f.getLong(6) == 0L)
  }

  test("zero vector quantizes to zeros (no 0/0)") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, Seq(0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val q = Ivf.quantizeInt8(df).select(col("q8")).head.getSeq[Double](0)
    assert(q == Seq(0.0, 0.0, 0.0))
  }

  test("tfIdfTopK: per-doc ranks ordered by score, df consistent with corpus") {
    val out = TextAnalysis.tfIdfTopK(spark, sf).collect()
    assert(out.nonEmpty)
    val nDocs = Tables.documents(spark, sf).count()
    out.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_.getInt(5))
      assert(byRank.map(_.getInt(5)).toSeq == (1 to byRank.length))
      // scores non-increasing with rank
      val scores = byRank.map(_.getDouble(4))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
    assert(out.forall(r => r.getLong(3) >= 1 && r.getLong(3) <= nDocs))
  }

  test("bm25: every ranked doc contains a query term; scores descend") {
    val out = TextAnalysis.bm25(spark, sf).collect()
    assert(out.nonEmpty && out.length <= 20)
    val scores = out.map(_.getDouble(1))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    val rankedIds = out.map(_.getLong(0)).toSet
    val withTerm = Tables.documents(spark, sf)
      .where(TextAnalysis.bm25Terms.map(t => col("text").rlike(s"\\b$t\\b"))
        .reduce(_ || _))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(rankedIds.subsetOf(withTerm))
  }

  test("annLshPairs hot-bucket cap: inactive at test SF; a forcing cap yields a verified subset") {
    val normal = Similarity.annLshPairs(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // default cap (500) is far above any bucket at this SF → identical to uncapped
    val uncapped = Similarity.annLshPairs(spark, sf, maxBucketOcc = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(normal == uncapped)
    // a cap below typical occupancy prunes buckets but everything that
    // survives is still a true (cos-verified) pair — a subset, never junk
    val forced = Similarity.annLshPairs(spark, sf, maxBucketOcc = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(forced.subsetOf(normal))
  }

  test("connectedComponents: chains converge to min id across multiple rounds") {
    val s = spark
    import s.implicits._
    // descending chain 5-4-3-2-1 needs several propagation rounds; plus a
    // separate pair and a triangle
    val edges = Seq(
      (5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L), // chain → comp 1
      (10L, 11L),                             // pair → comp 10
      (20L, 21L), (21L, 22L), (20L, 22L)      // triangle → comp 20
    ).toDF("d1", "d2")
    val got = graft.ops.Dedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L, 5L).forall(got(_) == 1L))
    assert(got(10L) == 10L && got(11L) == 10L)
    assert(Seq(20L, 21L, 22L).forall(got(_) == 20L))
    // a maxIters smaller than needed must FAIL FAST, never return
    // unconverged (wrong) component ids — forced onto the DISTRIBUTED
    // branch (the driver union-find route has no iteration bound)
    spark.conf.set("graft.cc.driverMaxEdges", "0")
    try {
      val e = intercept[RuntimeException] {
        graft.ops.Dedup.connectedComponents(edges, maxIters = 1).collect()
      }
      assert(e.getMessage.contains("did not converge"))
    } finally spark.conf.unset("graft.cc.driverMaxEdges")
  }

  test("connectedComponents: planted 40-node chain + forest — driver route, star route, and local union-find all agree") {
    val s = spark
    import s.implicits._
    // r17 (r16 verdict item 3): BOTH routes (driver union-find below the
    // edge-count threshold; alternating large-star/small-star above it)
    // must emit the identical min-id fixpoint. Worst case for
    // propagation: a long DESCENDING chain (the min id at the far end),
    // plus star/triangle/pair components and shared-id noise edges —
    // compared against a plain local union-find.
    val chain = (1L to 40L).sliding(2).map(p => (p(1), p(0))).toSeq
    val star = Seq((100L, 101L), (100L, 102L), (100L, 103L), (100L, 104L))
    val noise = Seq((200L, 201L), (201L, 202L), (202L, 200L), (300L, 301L),
      (104L, 105L), (40L, 41L), (41L, 42L))
    val all = chain ++ star ++ noise
    val edges = all.toDF("d1", "d2")
    // local reference: textbook union-find with min-id roots
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    all.foreach { case (a, b) => union(a, b) }
    val expected = parent.keys.map(k => k -> find(k)).toMap
    // driver route (default threshold ≫ 33 edges)
    val gotDriver = graft.ops.Dedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotDriver == expected)
    // distributed star route, with the O(log d) guarantee pinned: the
    // 41-long chain must converge inside 10 alternating iterations — the
    // old O(diameter) min-label loop needed 42+ and would trip this
    spark.conf.set("graft.cc.driverMaxEdges", "0")
    try {
      val gotStar = graft.ops.Dedup.connectedComponents(edges, maxIters = 10)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotStar == expected)
    } finally spark.conf.unset("graft.cc.driverMaxEdges")
  }

  test("connectedComponents star route: randomized graphs agree with the driver route") {
    val s = spark
    import s.implicits._
    // deterministic pseudo-random multi-component graphs exercise LS/SS
    // on shapes beyond the planted ones (dense blobs, bridges, repeated
    // edges, both orientations)
    val rnd = new scala.util.Random(20260818L)
    for (trial <- 1 to 3) {
      val n = 60 + trial * 30
      val es = (1 to n * 2).map { _ =>
        val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
        (a, b)
      }.filter { case (a, b) => a != b }
      val edges = es.toDF("d1", "d2")
      val viaDriver = graft.ops.Dedup.connectedComponents(edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      spark.conf.set("graft.cc.driverMaxEdges", "0")
      try {
        val viaStar = graft.ops.Dedup.connectedComponents(edges)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(viaStar == viaDriver, s"trial $trial: routes disagree")
      } finally spark.conf.unset("graft.cc.driverMaxEdges")
    }
  }

  test("decontaminate: matches a brute-force trigram-overlap check; benchmark docs never flagged") {
    val texts = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def grams(t: String): Set[String] =
      "[a-z0-9]+".r.findAllIn(t).toVector.sliding(3).filter(_.size == 3)
        .map(_.mkString(" ")).toSet
    val benchGrams = texts.filter(_._1 % 50 == 0).values.flatMap(grams).toSet
    val expected = texts.filter(_._1 % 50 != 0)
      .map { case (id, t) => id -> grams(t).intersect(benchGrams).size }
      .filter(_._2 > 0)
    val got = graft.ops.Dedup.decontaminate(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (id, n) => assert(got(id) == n, s"doc $id") }
    assert(got.keys.forall(_ % 50 != 0))
  }

  test("groupQuantileFilter: histogram percentile == local sort percentile; quartile accounting") {
    val out = graft.ops.TextAnalysis.groupQuantileFilter(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty)
    // independent local replay: per-lang scores, sort, percentile_disc
    // rank rule (value at rank ceil(n/4)) — the sort-based formulation
    // the distributed face avoids
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val stopRe = "\\b(the|a|of|and|in|to|is)\\b".r
    val wordRe = "[a-z0-9]+".r
    val scores = docs.flatMap { case (id, lang, t) =>
      val nw = wordRe.findAllIn(t).size
      if (nw == 0) None
      else Some((id, lang, stopRe.findAllIn(t).size.toLong * 10000 / nw))
    }
    val expected = scores.groupBy(_._2).toSeq.flatMap { case (lang, rows) =>
      val sorted = rows.map(_._3).sorted
      val cut = sorted((math.ceil(sorted.length / 4.0).toInt - 1).max(0))
      rows.filter(_._3 >= cut).map(r => (r._1, lang, r._3, cut)).toSeq
    }.toSet
    assert(out.toSet == expected, "distributed histogram cut diverged from local sort cut")
    // the kept fraction per group is >= 75% (ties at the cut can only add)
    scores.groupBy(_._2).foreach { case (lang, rows) =>
      val kept = out.count(_._2 == lang)
      assert(kept * 4 >= rows.length * 3, s"$lang kept $kept of ${rows.length}")
    }
  }

  test("lshDecontaminate: pairs straddle the split and agree with the q34 self-join family") {
    val got = graft.ops.Dedup.lshDecontaminate(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty, "corpus should contain cross-split near-dups")
    // directionality: left side is always a TRAINING doc, right a BENCH doc
    got.foreach { case (t, b, _) =>
      assert(t % 10 != 0 && b % 10 == 0, s"pair ($t,$b) does not straddle") }
    // same signature family + banding as the q34 portable self-join →
    // its cross-split pairs, reoriented (bench on the right), must be
    // exactly this operator's output
    val q34cross = graft.ops.Dedup.minhashLshPairs(spark, sf, portable = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => (a % 10 == 0) ^ (b % 10 == 0) }
      .map { case (a, b, e) => if (b % 10 == 0) (a, b, e) else (b, a, e) }
      .sortBy(t => (t._1, t._2))
    assert(got.toSeq == q34cross.toSeq,
      "cross-split q34 pairs diverge from the R-S join output")
  }

  test("groupSplit: every group lands entirely in one split") {
    val out = graft.ops.Sampling.docSplit(spark, sf)
    val perSource = out.groupBy(col("source"))
      .agg(countDistinct(col("split")).as("n_splits")).collect()
    assert(perSource.nonEmpty)
    assert(perSource.forall(_.getLong(1) == 1L), "a source leaked across splits")
    // all three labels are legal values
    val labels = out.select(col("split")).distinct().collect().map(_.getString(0)).toSet
    assert(labels.subsetOf(Set("train", "val", "test")))
  }

  test("sequencePack: offsets contiguous in doc order, equal to the naive global window") {
    val out = graft.ops.Sampling.sequencePack(spark, sf)
      .collect().sortBy(_.getLong(0))
    assert(out.nonEmpty)
    // contiguity: next start = prev start + prev tokens (concat-and-chunk)
    out.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getLong(2) == a.getLong(2) + a.getLong(1),
          s"gap between doc ${a.getLong(0)} and ${b.getLong(0)}")
      case _ =>
    }
    out.foreach { r =>
      assert(r.getLong(3) == r.getLong(2) / 512 && r.getLong(4) == r.getLong(2) % 512)
    }
    // cross-check the distributed prefix-sum against a plain global window
    import org.apache.spark.sql.expressions.Window
    val naive = Tables.documents(spark, sf)
      .select(col("doc_id"),
        size(graft.ops.TextAnalysis.words(col("text"))).cast("long").as("n_tokens"))
      .withColumn("start_tok", coalesce(
        sum(col("n_tokens")).over(Window.orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    out.foreach(r => assert(r.getLong(2) == naive(r.getLong(0))))
    // force BOTH summary levels to matter: rangeDocs=4 puts docs in many
    // ranges AND many super-ranges (srng = doc_id div 16), so the
    // level-2 offsets compose with level-1 and within-range sums — the
    // two-level prefix-sum must still equal the naive global window
    val twoLevel = graft.ops.Sampling.sequencePack(spark, sf, rangeDocs = 4L)
      .collect()
    assert(twoLevel.map(_.getLong(0) / 16).distinct.length > 4,
      "corpus too small to exercise multiple super-ranges")
    twoLevel.foreach(r => assert(r.getLong(2) == naive(r.getLong(0)),
      s"doc ${r.getLong(0)}: two-level offset ${r.getLong(2)} != naive"))
  }

  test("reservoirSample: two-phase bucket-prefix == naive per-stratum rank (skewed strata, <k stratum)") {
    val s = spark
    import s.implicits._
    // skewed strata: one hot stratum, one mid-size, one with < k rows
    val rows = (1 to 5000).map(i => ("big", i.toLong)) ++
      (1 to 37).map(i => ("mid", 100000L + i)) ++
      (1 to 3).map(i => ("tiny", 200000L + i))
    val df = rows.toDF("src", "id").repartition(7)
    val got = Sampling.reservoirSample(
        df, col("src"), col("id").cast("string"), tie = col("id"), k = 10)
      .select(col("stratum"), col("id")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    // naive definition (the correctness theorem's other side): the k rows
    // with the smallest md5-derived hash per stratum, ranked by a plain
    // per-stratum window with the same (hv, tie) order
    import org.apache.spark.sql.expressions.Window
    val hv = conv(substring(md5(col("id").cast("string")), 1, 15), 16, 10).cast("long")
    val naive = df.withColumn("hv", hv)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("hv"), col("id"))))
      .where(col("rk") <= 10)
      .select(col("src"), col("id")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == naive, "two-phase bucket-prefix diverged from naive rank")
    assert(got.count(_._1 == "big") == 10)
    assert(got.count(_._1 == "mid") == 10)
    assert(got.count(_._1 == "tiny") == 3, "<k stratum must degrade to take-all")
  }

  test("randomProjection: integer outputs, layout-independent, neighbors roughly preserved") {
    val out = Similarity.randomProjection(Tables.embeddings(spark, sf)).collect()
    assert(out.nonEmpty && out.head.length == 17) // vec_id + 16 components
    // components bounded by 64*127 (sum of 64 int8 magnitudes)
    out.foreach(r => (1 to 16).foreach(j => assert(math.abs(r.getLong(j)) <= 64L * 127)))
    // exact integers → identical under a different partition layout
    val shuffled = Similarity.randomProjection(
      Tables.embeddings(spark, sf).repartition(13)).collect()
      .map(r => r.getLong(0) -> (1 to 16).map(r.getLong).toVector).toMap
    out.foreach(r => assert(shuffled(r.getLong(0)) == (1 to 16).map(r.getLong).toVector))
    // JL sanity on real data — preservation IN EXPECTATION, the property
    // the projection actually guarantees (a 16-dim sketch of 500
    // near-uniform vectors won't reproduce exact top-5 rank): for each
    // probe, the mean PROJECTED dot over its exact-top-5 neighbors must
    // beat the mean projected dot over the whole corpus. Deterministic
    // data → deterministic assertion.
    val proj = out.map(r => r.getLong(0) -> (1 to 16).map(r.getLong).toArray).toMap
    val q8 = Ivf.quantizeInt8(Tables.embeddings(spark, sf))
      .select(col("vec_id"), col("q8")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    var wins = 0
    (0L until 5L).foreach { probe =>
      val exactTop = q8.collect { case (id, v) if id != probe =>
        id -> q8(probe).zip(v).map { case (a, b) => a * b }.sum.toLong }
        .toSeq.sortBy(t => (-t._2, t._1)).take(5).map(_._1)
      def pdot(id: Long): Double =
        proj(probe).zip(proj(id)).map { case (a, b) => a * b }.sum.toDouble
      val mTop = exactTop.map(pdot).sum / exactTop.size
      val others = proj.keys.filter(_ != probe).toSeq
      val mAll = others.map(pdot).sum / others.size
      if (mTop > mAll) wins += 1
    }
    assert(wins >= 4, s"projection preserved neighborhoods for only $wins/5 probes")
  }

  test("kmeansInt: partitions the corpus, deterministic across runs, integer centroids") {
    val a = Similarity.kmeansInt(spark, sf).collect()
    assert(a.length == 8)
    val total = Tables.embeddings(spark, sf).count()
    assert(a.map(_.getLong(1)).sum == total, "assignment must partition the corpus")
    assert(a.forall(r => r.getInt(0) >= 0 && r.getInt(0) < 8))
    // every arithmetic step is integer-exact → bit-identical reruns
    val b = Similarity.kmeansInt(spark, sf).collect()
    assert(a.map(r => (r.getInt(0), r.getLong(1), r.getString(2))).toSeq ==
      b.map(r => (r.getInt(0), r.getLong(1), r.getString(2))).toSeq)
    // more than one cluster actually receives members (the seeds are
    // distinct real vectors, so a degenerate all-in-one split would mean
    // the distance argmin is broken)
    assert(a.count(_.getLong(1) > 0) > 1)
  }

  test("kmeansAssign: broadcast-join regime (k>64) matches the expression regime exactly") {
    val s = spark
    import s.implicits._
    // synthetic already-quantized corpus: 300 vectors, 64 integer dims,
    // deterministic md5-derived components in [-127, 127] — includes
    // exact-tie opportunities so the first-min tie-break is exercised
    def comp(v: Long, i: Int): Double = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${v}_$i".getBytes("UTF-8"))
      (((h(0) & 0xFF) << 8 | (h(1) & 0xFF)) % 255 - 127).toDouble
    }
    val qe = (0L until 300L).map(v => (v, (0 until 64).map(comp(v, _))))
      .toDF("vec_id", "q8")
    val seeds = (k: Int) => qe.where(col("vec_id") < k).orderBy(col("vec_id"))
      .collect().map(_.getSeq[Double](1).map(_.toLong).toArray)
    for (k <- Seq(8, 128)) {
      val cs = seeds(k)
      val viaExpr = Similarity.kmeansAssign(qe, cs, viaJoin = false)
        .select(col("vec_id"), col("cluster"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val viaJoin = Similarity.kmeansAssign(qe, cs, viaJoin = true)
        .select(col("vec_id"), col("cluster"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(viaExpr.size == 300 && viaJoin == viaExpr,
        s"k=$k: join-regime assignment diverged from expression regime")
    }
    // full Lloyd loop through the join regime (k=128 > KmeansMaxExprK):
    // partitions the corpus, deterministic, same invariants as k=8
    assert(128 > Similarity.KmeansMaxExprK)
    val a = Similarity.kmeansIntOn(qe, k = 128, iters = 2).collect()
    assert(a.map(_.getLong(1)).sum == 300L, "assignment must partition the corpus")
    assert(a.forall(r => r.getInt(0) >= 0 && r.getInt(0) < 128))
    val b = Similarity.kmeansIntOn(qe, k = 128, iters = 2).collect()
    assert(a.map(r => (r.getInt(0), r.getLong(1), r.getString(2))).toSeq ==
      b.map(r => (r.getInt(0), r.getLong(1), r.getString(2))).toSeq)
  }

  test("semDedup: is_dup == exists same-cluster smaller-id pair at cos >= 2/5; layout independent") {
    val res = Similarity.semDedup(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
    assert(res.length == Tables.embeddings(spark, sf).count())
    // independent replay of the DEDUP layer (the clustering layer is
    // q94's oracle-checked pipeline): brute-force all pairs locally with
    // exact integer arithmetic against the operator's own assignment
    val q8 = Ivf.quantizeInt8(Tables.embeddings(spark, sf))
      .select(col("vec_id"), col("q8")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).map(_.toLong).toArray).toMap
    val cluster = res.map(t => t._1 -> t._2).toMap
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    val ids = res.map(_._1).sorted
    val expectDup = ids.map { id =>
      id -> ids.exists { o =>
        o < id && cluster(o) == cluster(id) && {
          val d = dot(q8(o), q8(id))
          d > 0 && d * d * 25 >= 4 * dot(q8(o), q8(o)) * dot(q8(id), q8(id))
        }
      }
    }.toMap
    res.foreach { case (id, _, dup) =>
      assert(dup == expectDup(id), s"vec $id: face=$dup expected=${expectDup(id)}") }
    assert(res.count(_._3) > 0, "corpus should contain semantic dups")
    // a different physical layout must not move a single flag (every
    // compared value is an exact integer)
    val b = Similarity.semDedupOn(
      Ivf.quantizeInt8(Tables.embeddings(spark, sf).repartition(13))
        .select(col("vec_id"), col("q8")), k = 8, iters = 2, tauNum = 2, tauDen = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
    assert(res.toSeq == b.toSeq, "layout changed the semdedup output")
  }

  test("labelCentroids: exact-integer sums are partition-layout independent; bounds hold") {
    val a = graft.ops.Similarity.labelCentroids(spark, sf).collect()
    assert(a.length == 640) // 10 labels × 64 dims
    // same aggregation over a different layout → bit-identical sums
    val shuffled = Ivf.quantizeInt8(Tables.embeddings(spark, sf).repartition(13))
      .select(col("label"), posexplode(col("q8")).as(Seq("dim", "q")))
      .groupBy(col("label"), col("dim"))
      .agg(sum(col("q")).cast("long").as("sum_q"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    a.foreach { r =>
      assert(shuffled((r.getInt(0), r.getInt(1))) == r.getLong(3))
      assert(math.abs(r.getDouble(4)) <= 127.0)
    }
  }

  test("quantizedTopK: recall vs exact cosine top-k is high on real data") {
    // int8 quantization of 64-dim unit-ish vectors perturbs cosine by
    // <~1%; the top-5 sets should overlap heavily. Deterministic data →
    // deterministic assertion.
    val quant = Similarity.quantizedTopK(spark, sf).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val exact = Similarity.cosineTopK(spark, sf).collect()
      .filter(_.getInt(3) <= 5)
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val overlaps = quant.keys.map { qid =>
      val o = quant(qid).intersect(exact.getOrElse(qid, Set.empty)).size
      o
    }.toSeq
    assert(overlaps.sum >= overlaps.size * 3, s"overlaps=$overlaps") // ≥3/5 avg
  }

  test("clusterSplit (q107): no near-dup pair straddles a split; covers every doc") {
    val split = Dedup.clusterSplit(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val nDocs = Tables.documents(spark, sf).count()
    assert(split.size == nDocs)
    assert(split.values.toSet.subsetOf(Set("train", "val", "test")))
    assert(split.values.toSet.contains("train"))
    val pairs = Dedup.minhashLshPairsShared(spark, sf)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "fixture has no near-dup pairs — test is vacuous")
    pairs.foreach { case (a, b) =>
      assert(split(a) == split(b), s"pair ($a,$b) straddles ${split(a)}/${split(b)}")
    }
  }
}
